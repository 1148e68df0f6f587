"""Indicator-model queries (SURVEY §2.B) — reference-parity operators
demonstrated on the test tables.

The canonical observation model of the reference (provider,
indicator_name, country_code, year, dimension, value — validation.py
DataSchema) is mapped onto the test schema: ``events`` are raw
observations (event_type⇄indicator, user→nation⇄country,
day-of-month⇄year, props JSON⇄dimensions) and ``nation``/``region``
stand in for the UNSD M49 area table. Each query exercises one
operator from ``operators.indicator`` end-to-end with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import indicator as ops
from ..sources import read_table, read_tables
from .numeric import davg, dcount, dec, dsum
from .registry import query

# Observation base: events keyed to the nation dim. Kept as a shared
# builder (Spark) + CTE (oracle) so every §2.B query sees one model.
OBS_SQL = """
    SELECT e.event_id,
           e.event_type AS indicator_name,
           n.n_name AS country_code,
           CAST(2000 + EXTRACT(day FROM e.ts) AS INTEGER) AS year,
           CAST(e.value AS DOUBLE) AS value,
           json_extract_string(e.props, '$.k') AS dim_k
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
"""


def observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events → canonical observations (broadcast join to the area dim)."""
    events, nation = read_tables(spark, sf_dir, "events", "nation")
    return (
        events.join(
            F.broadcast(nation),
            events["user_id"] % 25 == nation["n_nationkey"],
        )
        .select(
            "event_id",
            F.col("event_type").alias("indicator_name"),
            F.col("n_name").alias("country_code"),
            (F.lit(2000) + F.dayofmonth("ts")).cast("int").alias("year"),
            F.col("value").cast("double").alias("value"),
            F.get_json_object("props", "$.k").alias("dim_k"),
        )
    )


# Shared by ind_standardize and the end-to-end pipeline oracle: the
# full Transformer chain as one SQL relation.
STANDARDIZE_SQL = f"""
    WITH obs AS ({OBS_SQL}),
    shaped AS (
        SELECT indicator_name, country_code, year, value,
           CASE WHEN concat_ws('; ',
                    CASE WHEN value < 10 THEN 'low' ELSE 'high' END) = ''
                THEN 'Total'
                ELSE concat_ws('; ',
                    CASE WHEN value < 10 THEN 'low' ELSE 'high' END) END
               AS dimension,
           event_id
        FROM obs
        WHERE year BETWEEN 2005 AND 2030
    ),
    allowed AS (
        SELECT DISTINCT n_name FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY indicator_name, country_code, year, dimension
            ORDER BY event_id
        ) AS rn
        FROM shaped WHERE country_code IN (SELECT n_name FROM allowed)
    )
    SELECT 'events' AS provider, indicator_name, country_code, year,
           dimension, value
    FROM deduped WHERE rn = 1
"""


@query("ind_standardize", oracle=STANDARDIZE_SQL)
def ind_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Transformer chain (reference _base.py:191-218 +
    _pipeline.py:98-104): shape → dimension combine → year cut →
    M49-style area filter → deterministic dedup → provider stamp.

    Plan shape at scale: one broadcast join (area dim), pushdown-able
    filters, one shuffle for the key-wise dedup window. Nothing else.
    """
    return _standardized(spark, sf_dir)


def _standardized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Transformer-chain builder behind ``ind_standardize``
    and the end-to-end pipeline query."""
    nation, region = read_tables(spark, sf_dir, "nation", "region")
    obs = observations(spark, sf_dir).withColumn(
        "dimension_magnitude", F.when(F.col("value") < 10, "low").otherwise("high")
    )
    shaped = ops.combine_dimensions(obs, prefix="dimension_")
    shaped = ops.filter_years(shaped, "year", 2005, 2030)
    allowed = nation.join(
        F.broadcast(region.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_name")
    shaped = ops.filter_countries(shaped, allowed, "country_code", "n_name")
    deduped = ops.dedup_first(
        shaped,
        ["indicator_name", "country_code", "year", "dimension"],
        ["event_id"],
    )
    return deduped.select(
        F.lit("events").alias("provider"),
        "indicator_name",
        "country_code",
        "year",
        "dimension",
        "value",
    )


@query(
    "ind_observation_view",
    oracle=f"""
    WITH obs AS ({OBS_SQL})
    SELECT o.event_id, o.indicator_name, o.year, o.value,
           n.n_nationkey AS country_id, n.n_name AS country_name,
           r.r_name AS region_name
    FROM obs o
    LEFT JOIN nation n ON o.country_code = n.n_name
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def ind_observation_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation star view (reference entities.py:98-132): the fact
    stream LEFT-joined to its dimension tables, all broadcast."""
    nation, region = read_tables(spark, sf_dir, "nation", "region")
    obs = observations(spark, sf_dir)
    return (
        obs.join(F.broadcast(nation), obs["country_code"] == nation["n_name"], "left")
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left",
        )
        .select(
            "event_id",
            "indicator_name",
            "year",
            "value",
            F.col("n_nationkey").alias("country_id"),
            F.col("n_name").alias("country_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@query(
    "ind_combine_dimensions",
    oracle="""
    WITH dims AS (
        SELECT event_id,
               CASE user_id % 4 WHEN 0 THEN 'Male' WHEN 1 THEN 'Female'
                                WHEN 2 THEN 'Total' END AS d_sex,
               CASE WHEN value < 10 THEN NULL
                    WHEN value < 20 THEN '15-24' ELSE 'Total' END AS d_age_group
        FROM events
    ),
    combined AS (
        SELECT event_id, concat_ws('; ',
            CASE WHEN lower(d_sex) = 'total' THEN 'All sex' ELSE d_sex END,
            CASE WHEN lower(d_age_group) = 'total' THEN 'All age group'
                 ELSE d_age_group END) AS joined
        FROM dims
    )
    SELECT event_id,
           CASE WHEN joined = '' THEN 'Total' ELSE joined END AS dimension
    FROM combined
    """,
)
def ind_combine_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-column collapsing (reference utils.py:191-248):
    Total→``All <name>``, nulls skipped, empty→``Total``."""
    events = read_table(spark, sf_dir, "events")
    dims = events.select(
        "event_id",
        F.when(F.col("user_id") % 4 == 0, "Male")
        .when(F.col("user_id") % 4 == 1, "Female")
        .when(F.col("user_id") % 4 == 2, "Total")
        .alias("dimension_sex"),
        F.when(F.col("value") < 10, F.lit(None).cast("string"))
        .when(F.col("value") < 20, "15-24")
        .otherwise("Total")
        .alias("dimension_age_group"),
    )
    return ops.combine_dimensions(dims, prefix="dimension_").select(
        "event_id", "dimension"
    )


@query(
    "ind_melt",
    oracle="""
    WITH wide AS (
        SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, indicator_name, value FROM (
        SELECT user_id, 'click' AS indicator_name, click AS value FROM wide
        UNION ALL
        SELECT user_id, 'purchase', purchase FROM wide
    ) WHERE value IS NOT NULL
    """,
)
def ind_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of per-user indicator columns (reference
    sipri_milex.py:118-121), via the native unpivot operator."""
    events = read_table(spark, sf_dir, "events")
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.sum(dec("value")))
    )
    wide = wide.select(
        "user_id",
        F.col("click").cast("double").alias("click"),
        F.col("purchase").cast("double").alias("purchase"),
    )
    return ops.melt(
        wide,
        id_cols=["user_id"],
        value_cols=["click", "purchase"],
        var_name="indicator_name",
        value_name="value",
    )


@query(
    "ind_country_map",
    oracle="""
    SELECT c_custkey,
           (SELECT r_name FROM nation JOIN region ON n_regionkey = r_regionkey
            WHERE n_name = src.country LIMIT 1) AS country
    FROM (
        SELECT c_custkey, n_name AS country
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) src
    """,
)
def ind_country_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-code mapping via broadcast lookup (reference
    utils.py:117-155: name→region here, like iso3→name there);
    non-matching values null out."""
    customer, nation, region = read_tables(spark, sf_dir, "customer", "nation", "region")
    src = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("country"))
    mapping = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_name", "r_name")
    return ops.map_country_metadata(
        src, mapping, column="country", source="n_name", target="r_name"
    ).select("c_custkey", "country")


def _m49_dim_oracle() -> str:
    """Oracle over the VENDORED public UNSD table itself (round 8):
    DuckDB re-reads the packaged CSV, so the driver stamps the
    vendored data AND the loader's column contract, not a testdata
    stand-in."""
    from ..sources.m49 import PACKAGED_M49_PATH

    flag = (
        lambda c: f'("{c}" IS NOT NULL AND trim("{c}") <> \'\')'
    )
    return f"""
    SELECT CAST("M49 Code" AS INT) AS id,
           "ISO-alpha2 Code" AS iso_2,
           "ISO-alpha3 Code" AS iso_3,
           "Country or Area" AS name,
           "Sub-region Name" AS subregion,
           "Region Name" AS region,
           {flag("Least Developed Countries (LDC)")} AS ldc,
           {flag("Land Locked Developing Countries (LLDC)")} AS lldc,
           {flag("Small Island Developing States (SIDS)")} AS sids
    FROM read_csv('{PACKAGED_M49_PATH}', delim=';', header=true,
                  all_varchar=true)
    WHERE "ISO-alpha3 Code" IS NOT NULL
    """


@query("ind_m49_dim", oracle=_m49_dim_oracle())
def ind_m49_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country dim from the vendored UNSD M49 table (no path — the
    out-of-the-box standardization surface the reference ships via its
    packaged CSV, utils.py:64/84-155 + entities.py:30-47). ``sf_dir``
    is unused: the dim is environment data, not scale data."""
    from ..sources.m49 import load_m49, m49_country_dim

    return m49_country_dim(load_m49(spark))


@query(
    "ind_country_filter",
    oracle=f"""
    WITH obs AS ({OBS_SQL})
    SELECT country_code, COUNT(*) AS n_obs
    FROM obs
    WHERE country_code IN (
        SELECT n_name FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
    )
    GROUP BY country_code
    """,
)
def ind_country_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M49-style area allow-list as a broadcast LEFT SEMI join
    (reference _base.py:212-218)."""
    nation, region = read_tables(spark, sf_dir, "nation", "region")
    allowed = nation.join(
        F.broadcast(region.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_name")
    obs = observations(spark, sf_dir)
    return (
        ops.filter_countries(obs, allowed, "country_code", "n_name")
        .groupBy("country_code")
        .agg(dcount("n_obs"))
    )


@query(
    "ind_year_filter",
    oracle=f"""
    WITH obs AS ({OBS_SQL})
    SELECT year, COUNT(*) AS n_obs
    FROM obs WHERE year BETWEEN 2005 AND 2025
    GROUP BY year
    """,
)
def ind_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-range cut-off (reference _pipeline.py:98-104) as a
    pushdown-able predicate."""
    obs = observations(spark, sf_dir)
    return (
        ops.filter_years(obs, "year", 2005, 2025)
        .groupBy("year")
        .agg(dcount("n_obs"))
    )


@query(
    "ind_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, CAST(value AS DOUBLE) AS value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY event_id
        ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def ind_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup (reference who_gho_api.py:183-190)
    as a single key-shuffle window instead of a global sort."""
    events = read_table(spark, sf_dir, "events")
    deduped = ops.dedup_first(events, ["user_id", "event_type"], ["event_id"])
    return deduped.select(
        "user_id", "event_type", "event_id", F.col("value").cast("double").alias("value")
    )


MERGE_BASE_SQL = """
    base AS (
        SELECT user_id, event_type, event_id, CAST(value AS DOUBLE) AS value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY event_id DESC
            ) AS rn FROM events WHERE EXTRACT(day FROM ts) < 15
        ) WHERE rn = 1
    ),
    incoming AS (
        SELECT user_id, event_type, event_id, CAST(value AS DOUBLE) AS value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY event_id DESC
            ) AS rn FROM events WHERE EXTRACT(day FROM ts) >= 15
        ) WHERE rn = 1
    )
"""


def _merge_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    events = read_table(spark, sf_dir, "events")
    key = ["user_id", "event_type"]
    order = [F.col("event_id").desc()]
    base = ops.dedup_first(
        events.filter(F.dayofmonth("ts") < 15), key, order
    )
    incoming = ops.dedup_first(
        events.filter(F.dayofmonth("ts") >= 15), key, order
    )
    cols = ["user_id", "event_type", "event_id", F.col("value").cast("double").alias("value")]
    return base.select(*cols), incoming.select(*cols)


@query(
    "ind_upsert",
    oracle=f"""
    WITH {MERGE_BASE_SQL}
    SELECT * FROM incoming
    UNION ALL
    SELECT * FROM base b WHERE NOT EXISTS (
        SELECT 1 FROM incoming i
        WHERE i.user_id = b.user_id AND i.event_type = b.event_type
    )
    """,
)
def ind_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert / update-on-conflict (reference database/__init__.py:92-109):
    incoming wins on key conflict."""
    base, incoming = _merge_inputs(spark, sf_dir)
    return ops.upsert(base, incoming, ["user_id", "event_type"])


@query(
    "ind_insert_ignore",
    oracle=f"""
    WITH {MERGE_BASE_SQL}
    SELECT * FROM base
    UNION ALL
    SELECT * FROM incoming i WHERE NOT EXISTS (
        SELECT 1 FROM base b
        WHERE b.user_id = i.user_id AND b.event_type = i.event_type
    )
    """,
)
def ind_insert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-ignore (reference database/__init__.py:112-127): existing
    rows win, incoming fills gaps only."""
    base, incoming = _merge_inputs(spark, sf_dir)
    return ops.insert_ignore(base, incoming, ["user_id", "event_type"])


@query(
    "ind_metadata_dedup",
    oracle="""
    SELECT DISTINCT trim(p_brand) AS code, trim(p_type) AS name
    FROM part
    """,
)
def ind_metadata_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata strip + unique (reference MetadataSchema,
    validation.py:33-61)."""
    part = read_table(spark, sf_dir, "part")
    return (
        part.select(
            F.trim("p_brand").alias("code"), F.trim("p_type").alias("name")
        ).dropDuplicates()
    )


@query(
    "ind_validate",
    oracle=f"""
    WITH obs AS ({OBS_SQL})
    SELECT 'bad_country_code' AS rule,
           COUNT(*) FILTER (WHERE NOT regexp_matches(country_code, '^[A-Z ]+$')) AS n
    FROM obs
    UNION ALL SELECT 'bad_year',
           COUNT(*) FILTER (WHERE year < 1900 OR year > 2100) FROM obs
    UNION ALL SELECT 'null_value',
           COUNT(*) FILTER (WHERE value IS NULL) FROM obs
    UNION ALL SELECT 'bad_indicator_name',
           COUNT(*) FILTER (WHERE length(indicator_name) < 2
                            OR length(indicator_name) > 512) FROM obs
    UNION ALL SELECT 'valid',
           COUNT(*) FILTER (WHERE regexp_matches(country_code, '^[A-Z ]+$')
                            AND year BETWEEN 1900 AND 2100
                            AND value IS NOT NULL
                            AND length(indicator_name) BETWEEN 2 AND 512)
    FROM obs
    """,
)
def ind_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSchema rule audit (reference validation.py:64-107): per-rule
    violation counts + valid count, one aggregation pass (no
    row-at-a-time checks — validation is just column predicates)."""
    obs = observations(spark, sf_dir)
    ok_country = F.col("country_code").rlike("^[A-Z ]+$")
    ok_year = F.col("year").between(1900, 2100)
    ok_value = F.col("value").isNotNull()
    ok_name = F.length("indicator_name").between(2, 512)
    agg = obs.agg(
        F.sum((~ok_country).cast("long")).cast("bigint").alias("bad_country_code"),
        F.sum((~ok_year).cast("long")).cast("bigint").alias("bad_year"),
        F.sum((~ok_value).cast("long")).cast("bigint").alias("null_value"),
        F.sum((~ok_name).cast("long")).cast("bigint").alias("bad_indicator_name"),
        F.sum((ok_country & ok_year & ok_value & ok_name).cast("long"))
        .cast("bigint")
        .alias("valid"),
    )
    return agg.unpivot(
        ids=[],
        values=["bad_country_code", "bad_year", "null_value", "bad_indicator_name", "valid"],
        variableColumnName="rule",
        valueColumnName="n",
    )


@query(
    "ind_indicator_format",
    oracle="""
    SELECT p_partkey,
           p_name || ' [' || CAST(p_partkey AS VARCHAR) || ']' AS indicator_name
    FROM part
    """,
)
def ind_indicator_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``{name} [{code}]`` display names (reference
    world_bank_api.py:191-193)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        ops.format_indicator_name("p_name", "p_partkey").alias("indicator_name"),
    )


@query(
    "ind_value_stats",
    oracle=f"""
    WITH obs AS ({OBS_SQL})
    SELECT indicator_name,
           COUNT(*) AS n_obs,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value,
           COUNT(DISTINCT country_code) AS n_countries
    FROM obs GROUP BY indicator_name
    """,
)
def ind_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-indicator summary statistics over the observation model."""
    obs = observations(spark, sf_dir)
    return obs.groupBy("indicator_name").agg(
        dcount("n_obs"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dsum("value", "total_value"),
        davg("value", "avg_value"),
        F.count_distinct("country_code").cast("bigint").alias("n_countries"),
    )


# ---------------------------------------------------------------------------
# Star schema (reference database/entities.py) — dims + series + view.

STAR_SQL = f"""
    obs AS ({OBS_SQL}),
    shaped AS (
        SELECT event_id, indicator_name, country_code, year, value,
               CASE WHEN value < 10 THEN 'low' ELSE 'high' END AS dimension,
               'events' AS provider
        FROM obs
    ),
    ind_dim AS (
        SELECT DENSE_RANK() OVER (ORDER BY name) AS id, name, provider
        FROM (SELECT DISTINCT indicator_name AS name, provider FROM shaped)
    ),
    dim_dim AS (
        SELECT DENSE_RANK() OVER (ORDER BY name) AS id, name
        FROM (SELECT DISTINCT dimension AS name FROM shaped)
    ),
    country_dim AS (
        SELECT CAST(n_nationkey AS INTEGER) AS id,
               substring(n_name, 1, 2) AS iso_2, n_name AS iso_3,
               n_name AS name
        FROM nation
    )
"""


def _star(spark: SparkSession, sf_dir: str):
    from .. import database

    obs = observations(spark, sf_dir).select(
        "event_id",
        "indicator_name",
        "country_code",
        "year",
        "value",
        F.when(F.col("value") < 10, "low").otherwise("high").alias("dimension"),
        F.lit("events").alias("provider"),
    )
    nation = read_table(spark, sf_dir, "nation")
    country = nation.select(
        F.col("n_nationkey").cast("int").alias("id"),
        F.substring("n_name", 1, 2).alias("iso_2"),
        F.col("n_name").alias("iso_3"),
        F.col("n_name").alias("name"),
    )
    return database.build_star_schema(obs, country)


@query(
    "ind_star_series",
    oracle=f"""
    WITH {STAR_SQL}
    SELECT CAST(c.id AS INTEGER) AS country_id,
           CAST(i.id AS INTEGER) AS indicator_id,
           CAST(d.id AS INTEGER) AS dimension_id,
           s.year, s.value
    FROM shaped s
    JOIN country_dim c ON s.country_code = c.iso_3
    JOIN ind_dim i ON s.indicator_name = i.name
    JOIN dim_dim d ON s.dimension = d.name
    """,
)
def ind_star_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series fact with surrogate keys (entities.py:77-97): the ids are
    lookups into dim literals folded into the plan, so the fact adds no
    join to its observations and never shuffles."""
    return _star(spark, sf_dir)["series"]


@query(
    "ind_star_observation",
    oracle=f"""
    WITH {STAR_SQL},
    series AS (
        SELECT c.id AS country_id, i.id AS indicator_id, d.id AS dimension_id,
               s.year, s.value
        FROM shaped s
        JOIN country_dim c ON s.country_code = c.iso_3
        JOIN ind_dim i ON s.indicator_name = i.name
        JOIN dim_dim d ON s.dimension = d.name
    )
    SELECT CAST(s.country_id AS INTEGER) AS country_id,
           c.iso_2 AS country_code_2, c.iso_3 AS country_code_3,
           c.name AS country_name,
           CAST(s.indicator_id AS INTEGER) AS indicator_id,
           i.name AS indicator_name, i.provider AS indicator_provider,
           CAST(s.dimension_id AS INTEGER) AS dimension_id,
           d.name AS dimension_name, s.year, s.value
    FROM series s
    LEFT JOIN country_dim c ON s.country_id = c.id
    LEFT JOIN ind_dim i ON s.indicator_id = i.id
    LEFT JOIN dim_dim d ON s.dimension_id = d.id
    """,
)
def ind_star_observation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation wide view (entities.py:98-132): series LEFT JOIN the
    three dims, as one projection whose names are lookups by id into
    dim literals folded into the plan."""
    from .. import database

    return database.observation_view(_star(spark, sf_dir))


@query("ind_pipeline_e2e", oracle=STANDARDIZE_SQL)
def ind_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``Pipeline.run`` end-to-end as ONE oracled flow
    (_pipeline.py:22-121): Transformer chain → versioned parquet load
    → read-back → star-schema build → observation reconstruction.

    The output is the observations RECONSTRUCTED from the loaded star
    (``database.observation_view``), and the oracle is the plain
    standardized relation — equality proves the load, the surrogate
    keying, and the view round-trip lose and invent nothing. Each leg
    keeps its scale shape: versioned write/read is a plain columnar
    round trip, the star derives from one pass over the staged
    observations, the fact acquires ids from literals in its plan.
    """
    import shutil
    import tempfile
    from pathlib import Path

    from .. import database
    from ..sources import sinks

    scratch_root = Path(__file__).resolve().parents[2] / ".scratch"
    scratch_root.mkdir(exist_ok=True)
    root = tempfile.mkdtemp(prefix="dfx_pipeline_", dir=scratch_root)
    try:
        std = _standardized(spark, sf_dir)
        path = sinks.write_dataset(std, root, "observations", folder="data")
        loaded = spark.read.parquet(path)
        nation = read_table(spark, sf_dir, "nation")
        country = nation.select(
            F.col("n_nationkey").cast("int").alias("id"),
            F.substring("n_name", 1, 2).alias("iso_2"),
            F.col("n_name").alias("iso_3"),
            F.col("n_name").alias("name"),
        )
        star = database.build_star_schema(loaded, country)
        recon = database.observation_view(star).select(
            F.col("indicator_provider").alias("provider"),
            "indicator_name",
            F.col("country_code_3").alias("country_code"),
            F.col("year").cast("int").alias("year"),
            F.col("dimension_name").alias("dimension"),
            F.col("value").cast("double").alias("value"),
        )
        # eager: the finally block deletes the parquet the view scans
        return recon.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Shared by the series-repair queries: the thinned per-year panel
# (every third observation dropped deterministically so the year axis
# has real gaps to repair at any SF).
SERIES_SQL = f"""
    SELECT indicator_name, country_code, year,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(value) AS value
    FROM ({OBS_SQL}) obs
    WHERE event_id % 3 > 0
    GROUP BY indicator_name, country_code, year
"""


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thinned (indicator, country, year) panel with exact-decimal
    yearly means — the Spark twin of SERIES_SQL."""
    return (
        observations(spark, sf_dir)
        .filter(F.col("event_id") % 3 > 0)
        .groupBy("indicator_name", "country_code", "year")
        .agg(davg("value", "value"))
    )


# Sum-measure twin of SERIES_SQL: the panel measure stays DECIMAL so a
# second aggregation level never re-casts a double quotient to decimal
# (the half-way-tie hazard in plans/numeric.py). Shared by the
# statistics queries (outlier QA, trend nowcast).
PANEL_SUM_SQL = f"""
    SELECT indicator_name, country_code, year,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                AS DECIMAL(18,4)) AS sv
    FROM ({OBS_SQL}) obs
    WHERE event_id % 3 > 0
    GROUP BY indicator_name, country_code, year
"""


def _panel_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thinned panel with exact-decimal yearly SUMS — the Spark twin
    of PANEL_SUM_SQL."""
    return (
        observations(spark, sf_dir)
        .filter(F.col("event_id") % 3 > 0)
        .groupBy("indicator_name", "country_code", "year")
        .agg(F.sum(dec("value")).cast("decimal(18,4)").alias("sv"))
    )


@query(
    "ind_interpolate_years",
    # Same lead anchors + identical interpolation expression shape ->
    # identical IEEE doubles.
    oracle=f"""
    WITH series AS ({SERIES_SQL}),
    m AS (
        -- mirrors the operator's NULL-row drop (interpolate_years
        -- filters NULL values before the lead window), so a NULL
        -- yearly mean can never become an interpolation anchor here
        SELECT *, lead(value) OVER w AS v2, lead(year) OVER w AS y2
        FROM series
        WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY indicator_name, country_code
                     ORDER BY year, value)
    ),
    e AS (
        SELECT indicator_name, country_code,
               year AS y1, value AS v1, v2, y2,
               unnest(generate_series(year,
                   greatest(coalesce(y2 - 1, year), year))) AS year
        FROM m
    )
    SELECT indicator_name, country_code, CAST(year AS INTEGER) AS year,
           round(CASE WHEN year = y1 THEN v1
                 ELSE v1 + (v2 - v1) * (year - y1) / (y2 - y1) END,
                 6) AS value,
           year <> y1 AS filled
    FROM e
    """,
)
def ind_interpolate_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill of the sparse country-year panel (the standard
    indicator-series repair; see operators.indicator.interpolate_years
    for the scale argument)."""
    return ops.interpolate_years(
        _series(spark, sf_dir),
        ["indicator_name", "country_code"],
    )


@query(
    "ind_locf_fill",
    # Same lead anchors as ind_interpolate_years, value carried
    # unchanged — no arithmetic, so the fill is exact by construction.
    oracle=f"""
    WITH series AS ({SERIES_SQL}),
    m AS (
        SELECT *, lead(year) OVER w AS y2
        FROM series
        WHERE value IS NOT NULL
        WINDOW w AS (PARTITION BY indicator_name, country_code
                     ORDER BY year, value)
    ),
    e AS (
        SELECT indicator_name, country_code,
               year AS y1, value,
               unnest(generate_series(year,
                   greatest(coalesce(y2 - 1, year), year))) AS year
        FROM m
    )
    SELECT indicator_name, country_code, CAST(year AS INTEGER) AS year,
           value, year <> y1 AS filled
    FROM e
    """,
)
def ind_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-fill of the sparse country-year panel — the
    step-function sibling of ind_interpolate_years (census counts,
    treaty status, discrete policy indicators, where interpolation
    would fabricate a trend). One lead window over single-series
    partitions + a narrow explode; value carried unchanged, exact for
    any type (operators.indicator.locf_fill)."""
    return ops.locf_fill(
        _series(spark, sf_dir),
        ["indicator_name", "country_code"],
    )


@query(
    "ind_rebase_index",
    oracle=f"""
    WITH series AS ({SERIES_SQL})
    SELECT indicator_name, country_code, year, value,
           CASE WHEN first_value(value) OVER w <> 0
                THEN round(100.0 * value / first_value(value) OVER w, 6)
           END AS idx
    FROM series WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY indicator_name, country_code
                 ORDER BY year, value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def ind_rebase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each series rebased to first-reported-year = 100 (index-number
    comparability transform; operators.indicator.rebase_index)."""
    return ops.rebase_index(
        _series(spark, sf_dir),
        ["indicator_name", "country_code"],
    )


@query(
    "ind_outlier_flags",
    # The panel value stays DECIMAL until the final stats (summing the
    # davg quotient would re-cast a double to decimal — quotients of
    # scale-4 sums often land exactly on scale-4 half-way ties, where
    # engine rounding modes diverge; exact-decimal sums never do).
    # Variance/z then compute in one IEEE expression shape on
    # identical doubles; sqrt is correctly-rounded on both.
    oracle=f"""
    WITH panel AS ({PANEL_SUM_SQL}),
    stats AS (
        SELECT indicator_name, country_code, year,
               CAST(sv AS DOUBLE) AS value,
               CAST(SUM(sv) OVER w AS DOUBLE) AS s1,
               CAST(SUM(sv * sv) OVER w AS DOUBLE) AS s2,
               COUNT(*) OVER w AS n
        FROM panel
        WINDOW w AS (PARTITION BY indicator_name)
    ),
    scored AS (
        SELECT indicator_name, country_code, year, value,
               s1 / n AS mean,
               sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0)) AS std
        FROM stats WHERE n > 1
    )
    SELECT indicator_name, country_code, year, value,
           round(mean, 6) AS mean,
           round(std, 6) AS std,
           CASE WHEN std > 0
                THEN round((value - mean) / std, 6) END AS z,
           CASE WHEN std > 0
                THEN abs((value - mean) / std) > 2
                ELSE FALSE END AS is_outlier
    FROM scored
    """,
)
def ind_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-indicator z-score outlier QA over the country-year panel —
    the validation sweep run before publishing a revision.

    Sufficient statistics (Σx, Σx² as exact decimals, n) come from a
    window over the panel partitioned by indicator — the panel is
    series-year cardinality, so the window input is bounded and the
    whole query is one fact scan + the panel shuffle (the earlier
    groupBy-then-join form scanned the fact twice). The panel measure
    is the exact decimal yearly sum (never a double re-cast to decimal
    — see the oracle comment). Degenerate groups guard: n ≤ 1 rows
    drop, zero variance yields NULL z / FALSE flag.
    """
    panel = _panel_sums(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("indicator_name")
    scored = (
        panel.withColumn("value", F.col("sv").cast("double"))
        .withColumn("s1", F.sum("sv").over(w).cast("double"))
        .withColumn(
            "s2", F.sum(F.col("sv") * F.col("sv")).over(w).cast("double")
        )
        .withColumn("n", F.count("*").over(w))
        .filter(F.col("n") > 1)
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    v = F.col("value")
    z = (v - F.col("mean")) / F.col("std")
    return (
        scored.withColumn("mean", mean)
        .withColumn("std", std)
        .select(
            "indicator_name",
            "country_code",
            "year",
            "value",
            F.round("mean", 6).alias("mean"),
            F.round("std", 6).alias("std"),
            F.when(F.col("std") > 0, F.round(z, 6)).alias("z"),
            F.when(F.col("std") > 0, F.abs(z) > 2)
            .otherwise(F.lit(False))
            .alias("is_outlier"),
        )
    )


@query(
    "ind_forecast_trend",
    # OLS sufficient statistics stay exact (decimal Σy/Σxy, int64
    # Σx/Σx²); slope/intercept/forecast then compute in one IEEE
    # expression shape on identical doubles.
    oracle=f"""
    WITH panel AS ({PANEL_SUM_SQL}),
    stats AS (
        SELECT indicator_name, country_code,
               COUNT(*) AS n,
               SUM(CAST(year AS BIGINT)) AS sx,
               SUM(CAST(year AS BIGINT) * CAST(year AS BIGINT)) AS sxx,
               CAST(SUM(sv) AS DOUBLE) AS sy,
               CAST(SUM(sv * year) AS DOUBLE) AS sxy,
               MAX(year) AS last_year
        FROM panel GROUP BY indicator_name, country_code
    ),
    fitted AS (
        SELECT *,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
        FROM stats WHERE n >= 2
    )
    SELECT indicator_name, country_code, CAST(n AS BIGINT) AS n,
           round(slope, 6) AS slope,
           CAST(last_year + 1 AS INTEGER) AS forecast_year,
           round((sy - slope * sx) / n + slope * (last_year + 1), 6)
               AS forecast
    FROM fitted
    """,
)
def ind_forecast_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear-trend nowcast: fit OLS value~year on each
    (indicator, country) series and extrapolate one year past the last
    report — the gap-year estimate published while providers lag.

    One combinable aggregate to series cardinality carrying the OLS
    sufficient statistics (Σx, Σx² as int64; Σy, Σxy as exact
    decimals), then a narrow slope/forecast expression — no second
    pass, no window, no driver state. Series with <2 reported years
    drop (no trend).
    """
    panel = _panel_sums(spark, sf_dir)
    yr = F.col("year").cast("bigint")
    stats = (
        panel.groupBy("indicator_name", "country_code")
        .agg(
            F.count("*").alias("n"),
            F.sum(yr).alias("sx"),
            F.sum(yr * yr).alias("sxx"),
            F.sum("sv").cast("double").alias("sy"),
            F.sum(F.col("sv") * F.col("year")).cast("double").alias("sxy"),
            F.max("year").alias("last_year"),
        )
        .filter(F.col("n") >= 2)
    )
    n, sx, sxx, sy, sxy = (
        F.col("n"),
        F.col("sx"),
        F.col("sxx"),
        F.col("sy"),
        F.col("sxy"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fitted = stats.withColumn("slope", slope)
    s = F.col("slope")
    return fitted.select(
        "indicator_name",
        "country_code",
        F.col("n").cast("bigint").alias("n"),
        F.round(s, 6).alias("slope"),
        (F.col("last_year") + 1).cast("int").alias("forecast_year"),
        F.round(
            (sy - s * sx) / n + s * (F.col("last_year") + 1), 6
        ).alias("forecast"),
    )


@query(
    "ind_panel_balance",
    # Pure integer counts + one division on identical ints.
    oracle=f"""
    WITH series AS ({SERIES_SQL})
    SELECT indicator_name,
           COUNT(DISTINCT country_code) AS n_countries,
           COUNT(DISTINCT year) AS n_years,
           CAST(MIN(year) AS INTEGER) AS first_year,
           CAST(MAX(year) AS INTEGER) AS last_year,
           COUNT(*) AS n_cells,
           round(COUNT(*) / (COUNT(DISTINCT country_code)
                 * CAST(MAX(year) - MIN(year) + 1 AS DOUBLE)), 6)
               AS fill_rate
    FROM series GROUP BY indicator_name
    """,
)
def ind_panel_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel-completeness report per indicator: how much of the
    countries × year-span grid actually has data — the coverage
    number a data steward checks before publishing.

    One combinable aggregate to indicator cardinality (distinct counts
    are two-phase partial-distinct); fill_rate is one integer-ratio
    division. No joins, no windows.
    """
    series = _series(spark, sf_dir)
    span = (F.max("year") - F.min("year") + 1).cast("double")
    return series.groupBy("indicator_name").agg(
        F.countDistinct("country_code").alias("n_countries"),
        F.countDistinct("year").alias("n_years"),
        F.min("year").cast("int").alias("first_year"),
        F.max("year").cast("int").alias("last_year"),
        F.count("*").alias("n_cells"),
        F.round(
            F.count("*") / (F.countDistinct("country_code") * span), 6
        ).alias("fill_rate"),
    )


@query(
    "ind_series_export",
    # Struct-sorted collect_list == ORDER BY inside string_agg, and
    # DECIMAL(18,4) renders with identical full-scale text on both
    # engines ('24.6410'), so the export strings are byte-equal.
    oracle=f"""
    WITH panel AS ({PANEL_SUM_SQL})
    SELECT indicator_name, country_code,
           COUNT(*) AS n_years,
           string_agg(year || '=' || CAST(sv AS VARCHAR), ';'
                      ORDER BY year) AS series
    FROM panel
    GROUP BY indicator_name, country_code
    """,
)
def ind_series_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series flattened to one ordered ``year=value;...`` string per
    (indicator, country) — the provider-frame export/display form (and
    the ordered-list-aggregation operator surface: collect_list is
    unordered by contract, so determinism comes from array_sort on
    (year, value) structs before joining).

    One combinable aggregate; the per-group state is the series' year
    list (bounded by decades). The decimal measure renders with full
    scale, so export strings are engine-exact.
    """
    panel = _panel_sums(spark, sf_dir)
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("year"), F.col("sv")))
    )
    rendered = F.transform(
        entries,
        lambda e: F.concat(
            e["year"].cast("string"), F.lit("="), e["sv"].cast("string")
        ),
    )
    return (
        panel.groupBy("indicator_name", "country_code")
        .agg(
            F.count("*").alias("n_years"),
            F.array_join(rendered, ";").alias("series"),
        )
        .select(
            "indicator_name",
            "country_code",
            F.col("n_years").cast("bigint").alias("n_years"),
            "series",
        )
    )


@query(
    "ind_changepoint_cusum",
    # cusum_t = (decimal running sum)·double − t·mean: the running sum
    # stays DECIMAL (window evaluation order cannot leak), and the
    # subtraction is one IEEE expression on identical doubles.
    oracle=f"""
    WITH panel AS ({PANEL_SUM_SQL}),
    series AS (
        SELECT indicator_name, country_code, year,
               CAST(SUM(sv) OVER w_cum AS DOUBLE) AS cum,
               row_number() OVER w_cum AS t,
               CAST(SUM(sv) OVER w_all AS DOUBLE) AS total,
               COUNT(*) OVER w_all AS n
        FROM panel
        WINDOW
        w_cum AS (PARTITION BY indicator_name, country_code
                  ORDER BY year
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_all AS (PARTITION BY indicator_name, country_code)
    ),
    scored AS (
        -- t < n: the endpoint's CUSUM is identically zero by
        -- construction, never an interior changepoint
        SELECT *, cum - t * (total / n) AS cusum
        FROM series WHERE n >= 3 AND t < n
    )
    SELECT indicator_name, country_code,
           CAST(year AS INTEGER) AS change_year,
           round(cusum, 6) + 0.0 AS cusum,
           round(abs(cusum), 6) AS magnitude
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY indicator_name, country_code
            ORDER BY abs(cusum) DESC, year
        ) AS rk
        FROM scored
    )
    WHERE rk = 1
    """,
)
def ind_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per series: the year where the
    cumulative deviation from the series mean peaks — the classic
    single-changepoint location statistic, run as a QA sweep to spot
    level shifts (methodology changes, series breaks) before
    publication.

    cusum_t = Σ_{i≤t} x_i − t·mean computed from a DECIMAL running sum
    (exact under any window evaluation strategy) and one IEEE
    subtraction; the argmax is a rank window over the same bounded
    series partitions, excluding the endpoint (its CUSUM is zero by
    construction). Two windows, one key-wise shuffle; series with
    fewer than 3 years drop (no interior changepoint).
    """
    from pyspark.sql import Window

    panel = _panel_sums(spark, sf_dir)
    keys = ["indicator_name", "country_code"]
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    series = (
        panel.withColumn("cum", F.sum("sv").over(w_cum).cast("double"))
        .withColumn(
            "t",
            F.row_number().over(Window.partitionBy(*keys).orderBy("year")),
        )
        .withColumn("total", F.sum("sv").over(w_all).cast("double"))
        .withColumn("n", F.count("*").over(w_all))
        .filter((F.col("n") >= 3) & (F.col("t") < F.col("n")))
    )
    cusum = F.col("cum") - F.col("t") * (F.col("total") / F.col("n"))
    ranked = series.withColumn("cusum", cusum).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy(*keys).orderBy(
                F.abs(F.col("cusum")).desc(), "year"
            )
        ),
    )
    # + 0.0 canonicalizes −0.0: Spark's BigDecimal round and DuckDB's
    # sign-preserving round disagree on the zero's sign for tiny
    # negative inputs, and the compare's repr-sort would see it
    return ranked.filter(F.col("rk") == 1).select(
        "indicator_name",
        "country_code",
        F.col("year").cast("int").alias("change_year"),
        (F.round("cusum", 6) + F.lit(0.0)).alias("cusum"),
        F.round(F.abs(F.col("cusum")), 6).alias("magnitude"),
    )


@query(
    "ind_seasonal_index",
    oracle="""
    WITH obs AS (
        SELECT event_type AS indicator_name,
               isodow(ts) AS dow,
               CAST(value AS DECIMAL(18,4)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    per_dow AS (
        SELECT indicator_name, dow,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS d_mean
        FROM obs GROUP BY indicator_name, dow
    ),
    grand AS (
        SELECT indicator_name,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS g_mean
        FROM obs GROUP BY indicator_name
    )
    SELECT p.indicator_name, CAST(p.dow AS INT) AS dow, p.n_obs,
           round(p.d_mean / g.g_mean, 6) AS seasonal_index
    FROM per_dow p JOIN grand g USING (indicator_name)
    """,
)
def ind_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal index per indicator series:
    period mean over the series' grand mean — the
    ratio-to-average shortcut every statistical office applies before
    deseasonalizing (X-13's opening move). The period is day-of-week
    (ISO, Mon=1) because the events corpus spans one month — a yearly
    series swaps in month(ts) unchanged. Two combinable decimal-sum
    aggregations joined on the series key (grand means are
    series-cardinality, broadcast); the quotient stays in doubles —
    decimal sums make both means exact, and the IEEE divisions are
    engine-identical (never re-cast a quotient to DECIMAL — the
    two-level-aggregate tie hazard)."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    obs = events.select(
        F.col("event_type").alias("indicator_name"),
        (F.weekday("ts") + 1).alias("dow"),
        dec("value").alias("v"),
    )
    per_dow = obs.groupBy("indicator_name", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("d_mean"),
    )
    grand = obs.groupBy("indicator_name").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("g_mean")
    )
    return per_dow.join(F.broadcast(grand), "indicator_name").select(
        "indicator_name",
        F.col("dow").cast("int").alias("dow"),
        "n_obs",
        F.round(F.col("d_mean") / F.col("g_mean"), 6).alias("seasonal_index"),
    )


@query(
    "ind_ewma",
    # Spark's fold and DuckDB's list_reduce both start from the first
    # (earliest-year) value and apply acc' = 0.25*v + 0.75*acc left to
    # right — identical IEEE double op sequence, bit-identical result
    # (round(…, 6) only guards the last ulp of display formatting).
    oracle=f"""
    WITH series AS ({SERIES_SQL}),
    arr AS (
        SELECT indicator_name, country_code,
               list(value ORDER BY year) AS vs,
               COUNT(*) AS n_years,
               MAX(year) AS last_year
        FROM series WHERE value IS NOT NULL
        GROUP BY indicator_name, country_code
    )
    SELECT indicator_name, country_code,
           CAST(n_years AS BIGINT) AS n_years,
           CAST(last_year AS INT) AS last_year,
           round(list_reduce(vs, (acc, v) -> 0.25 * v + 0.75 * acc), 6)
               AS ewma
    FROM arr
    """,
)
def ind_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per indicator series —
    the smoothing an indicator dashboard shows next to the raw line
    (α = 0.25, an exact binary fraction so neither engine rounds the
    coefficient itself).

    EWMA is a sequential recurrence (s_t = α·v_t + (1-α)·s_{t-1}),
    which a distributed engine handles by scoping the sequence to its
    natural unit: one (indicator, country) series, whose length is
    the YEAR RANGE of the panel (decades, not rows) — so
    ``collect_list`` per group is bounded state exactly like the
    reference's per-series pandas ops (src/dfx_etl pipelines operate
    per-indicator-frame). The fold itself is a pure-codegen
    ``aggregate`` over the year-sorted value array, seeded with the
    first value; the oracle replays the identical left fold with
    DuckDB's ``list_reduce``, so the doubles match bit-for-bit (same
    op sequence, same IEEE semantics — the portable-fold convention).
    """
    series = _series(spark, sf_dir).filter(F.col("value").isNotNull())
    arr = series.groupBy("indicator_name", "country_code").agg(
        F.array_sort(F.collect_list(F.struct("year", "value"))).alias("yv"),
        F.count(F.lit(1)).cast("bigint").alias("n_years"),
        F.max("year").cast("int").alias("last_year"),
    )
    vs = F.transform(F.col("yv"), lambda x: x["value"])
    ewma = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1),
        lambda acc, v: F.lit(0.25) * v + F.lit(0.75) * acc,
    )
    return arr.select(
        "indicator_name",
        "country_code",
        "n_years",
        "last_year",
        F.round(ewma, 6).alias("ewma"),
    )


# Benford P(d) = log10(1 + 1/d), pre-evaluated to 12 decimals so both
# engines compare against the SAME literals — never against each
# libm's log10 (last-ulp divergence would break the value hash).
_BENFORD_P = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}


@query(
    "ind_benford",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(regexp_extract(
                   CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR), '[1-9]')
               AS INTEGER) AS digit
        FROM events WHERE value > 0
    ),
    counts AS (
        SELECT digit, COUNT(*) AS n_obs FROM digits
        WHERE digit IS NOT NULL GROUP BY digit
    ),
    t AS (SELECT SUM(n_obs) AS n FROM counts),
    bp(digit, p) AS (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_P.items())})
    SELECT bp.digit AS digit,
           CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
           round(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / t.n, 6) AS obs_share,
           round(CAST(bp.p AS DOUBLE), 6) AS benford_share,
           round(abs(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / t.n
                     - CAST(bp.p AS DOUBLE)), 6)
               AS abs_dev
    FROM bp LEFT JOIN counts c ON bp.digit = c.digit CROSS JOIN t
    """,
)
def ind_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over a measure —
    the classic fabricated-/corrupted-feed tripwire a data-quality
    gate runs next to null/range checks (``ind_validate``).

    The first significant digit is extracted PORTABLY: the measure is
    cast to exact DECIMAL(18,4) and the first [1-9] of its canonical
    string taken — never ``floor(v / 10^floor(log10 v))``, whose libm
    log10 can differ in the last ulp between engines and flip a
    boundary digit. Expected shares are pre-evaluated literals for
    the same reason. One combinable 9-group aggregate over the fact;
    the 9-row Benford table joins broadcast-style. All digits 1-9 are
    emitted even at zero count (LEFT join from the constant table).
    """
    events = read_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    digit = F.regexp_extract(
        F.col("value").cast("decimal(18,4)").cast("string"), "[1-9]", 0
    ).cast("int")
    counts = (
        events.select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    bp = events.sparkSession.createDataFrame(
        sorted(_BENFORD_P.items()), "digit int, p double"
    )
    t = counts.agg(F.sum("n_obs").alias("n"))
    return (
        bp.join(counts, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            F.round(
                F.coalesce(F.col("n_obs"), F.lit(0)).cast("double")
                / F.col("n"),
                6,
            ).alias("obs_share"),
            F.round(F.col("p"), 6).alias("benford_share"),
            F.round(
                F.abs(
                    F.coalesce(F.col("n_obs"), F.lit(0)).cast("double")
                    / F.col("n")
                    - F.col("p")
                ),
                6,
            ).alias("abs_dev"),
        )
    )


@query(
    "ind_outlier_mad",
    # med/mad round to 6dp before use -> identical thresholds, exact
    # comparisons; 1.4826 is a shared literal, never a computed
    # constant (consistency factor for normal data).
    oracle=f"""
    WITH series AS ({SERIES_SQL}),
    med AS (
        SELECT indicator_name,
               round(quantile_cont(value, 0.5), 6) AS med
        FROM series WHERE value IS NOT NULL GROUP BY indicator_name
    ),
    dev AS (
        SELECT s.indicator_name, s.country_code, s.year, s.value,
               m.med, round(abs(s.value - m.med), 6) AS dev
        FROM series s JOIN med m USING (indicator_name)
        WHERE s.value IS NOT NULL
    ),
    mad AS (
        SELECT indicator_name,
               round(quantile_cont(dev, 0.5), 6) AS mad
        FROM dev GROUP BY indicator_name
    )
    SELECT d.indicator_name, d.country_code,
           CAST(d.year AS INT) AS year, d.value, d.med, d.dev, m.mad,
           (m.mad > 0 AND d.dev > 3 * 1.4826 * m.mad) AS is_outlier
    FROM dev d JOIN mad m USING (indicator_name)
    """,
)
def ind_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier QA over the indicator panel — the
    fat-tail-proof twin of ``ind_outlier_flags``'s z-scores: one wild
    revision inflates a z-score's own σ and hides itself, but cannot
    move the median or the MAD.

    Two panel-cardinality aggregates (median per indicator, then the
    median absolute deviation of the residuals) broadcast back onto
    the panel; flag = dev > 3·1.4826·MAD (the normal-consistency
    factor as a shared literal). Percentiles follow the winsorize
    convention — ``F.percentile`` ↔ ``quantile_cont`` with 6dp
    rounding BEFORE every comparison, so thresholds are
    engine-identical — and run through the RUNTIME-ADAPTIVE
    ``_mad_flags`` picker: exact ``F.percentile`` aggregates while the
    panel is provably small, the per-group
    ``operators.scale.histogram_percentiles`` (bit-identical, O(1)
    task state regardless of group size) above the threshold.
    """
    # the panel feeds three branches (median, residual MAD, output) —
    # materialize it once instead of re-deriving the observation scan
    # per branch (8 fact scans -> 1 at panel size)
    series = (
        _series(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .localCheckpoint(eager=False)
    )
    return _mad_flags(series)


# Above this panel row count a per-indicator exact ``F.percentile``
# buffers one indicator's full value multiset in a single task's agg
# state — an OOM risk when a handful of indicators carry most of the
# panel; the distributed histogram produces bit-identical medians at
# any group size (VERDICT r9 #2c — the scale swap in code, not prose).
MAD_EXACT_MAX_ROWS = 2_000_000  # measured crossover ~1M rows (SCALE.md §adaptive-crossover)


def _mad_flags(
    series: DataFrame, exact_max_rows: int = MAD_EXACT_MAX_ROWS
) -> DataFrame:
    """Runtime-adaptive median/MAD outlier flags over a
    (indicator_name, country_code, year, value) panel. Both paths are
    pinned identical in tests/test_indicators.py; the large path's
    plan is asserted free of exact-percentile aggregates."""
    from ..operators.scale import histogram_percentiles

    exact = series.count() <= exact_max_rows

    def _group_median(df: DataFrame, col: str, out: str) -> DataFrame:
        if exact:
            return df.groupBy("indicator_name").agg(
                F.round(F.percentile(col, F.lit(0.5)), 6).alias(out)
            )
        return histogram_percentiles(
            df, ["indicator_name"], col, {out: 0.5}
        ).select("indicator_name", F.round(out, 6).alias(out))

    med = _group_median(series, "value", "med")
    dev = series.join(F.broadcast(med), "indicator_name").select(
        "indicator_name",
        "country_code",
        F.col("year").cast("int").alias("year"),
        "value",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("dev"),
    )
    mad = _group_median(dev, "dev", "mad")
    return dev.join(F.broadcast(mad), "indicator_name").select(
        "indicator_name",
        "country_code",
        "year",
        "value",
        "med",
        "dev",
        "mad",
        (
            (F.col("mad") > 0)
            & (F.col("dev") > 3 * 1.4826 * F.col("mad"))
        ).alias("is_outlier"),
    )


@query(
    "ind_deseasonalize",
    oracle="""
    WITH obs AS (
        SELECT event_type AS indicator_name,
               CAST(ts AS DATE) AS day,
               isodow(ts) AS dow,
               CAST(value AS DECIMAL(18,4)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    per_dow AS (
        SELECT indicator_name, dow,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS d_mean
        FROM obs GROUP BY indicator_name, dow
    ),
    grand AS (
        SELECT indicator_name,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS g_mean
        FROM obs GROUP BY indicator_name
    ),
    idx AS (
        SELECT p.indicator_name, p.dow,
               round(p.d_mean / g.g_mean, 6) AS si
        FROM per_dow p JOIN grand g USING (indicator_name)
    ),
    daily AS (
        SELECT indicator_name, day, dow,
               CAST(SUM(v) AS DOUBLE) / COUNT(*) AS day_mean
        FROM obs GROUP BY indicator_name, day, dow
    )
    SELECT d.indicator_name, d.day, CAST(d.dow AS INT) AS dow,
           round(d.day_mean, 6) AS day_mean,
           i.si AS seasonal_index,
           round(d.day_mean / i.si, 6) AS deseasonalized
    FROM daily d JOIN idx i
      ON d.indicator_name = i.indicator_name AND d.dow = i.dow
    """,
)
def ind_deseasonalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-average deseasonalization — the consumer of
    ``ind_seasonal_index``: each daily mean divides by its period's
    seasonal index, turning the raw series into the
    seasonally-adjusted one a statistical office publishes.

    Two combinable decimal-sum aggregations (daily means and the
    dow-index inputs) off ONE fact scan shape; the dow-cardinality
    index table broadcasts back onto the daily frame. Quotients
    follow the seasonal-index convention: exact decimal sums, IEEE
    double division, round(…,6) — the index is rounded BEFORE the
    final division on both engines, so the composed quotient is
    bit-identical (never re-cast a quotient to DECIMAL).
    """
    events = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    obs = events.select(
        F.col("event_type").alias("indicator_name"),
        F.col("ts").cast("date").alias("day"),
        (F.weekday("ts") + 1).alias("dow"),
        dec("value").alias("v"),
    )
    # ONE fact scan: day-grain exact-decimal partials; every coarser
    # mean re-aggregates the partials (decimal sums compose exactly, so
    # the quotients are bit-identical to aggregating the fact directly)
    daily_sums = (
        obs.groupBy("indicator_name", "day", "dow")
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    per_dow = daily_sums.groupBy("indicator_name", "dow").agg(
        (F.sum("sv").cast("double") / F.sum("n")).alias("d_mean")
    )
    grand = daily_sums.groupBy("indicator_name").agg(
        (F.sum("sv").cast("double") / F.sum("n")).alias("g_mean")
    )
    idx = per_dow.join(F.broadcast(grand), "indicator_name").select(
        "indicator_name",
        "dow",
        F.round(F.col("d_mean") / F.col("g_mean"), 6).alias("si"),
    )
    daily = daily_sums.select(
        "indicator_name",
        "day",
        "dow",
        (F.col("sv").cast("double") / F.col("n")).alias("day_mean"),
    )
    return daily.join(F.broadcast(idx), ["indicator_name", "dow"]).select(
        "indicator_name",
        "day",
        F.col("dow").cast("int").alias("dow"),
        F.round("day_mean", 6).alias("day_mean"),
        F.col("si").alias("seasonal_index"),
        F.round(F.col("day_mean") / F.col("si"), 6).alias("deseasonalized"),
    )


@query(
    "ind_splice",
    # Splice two vintages by the overlap ratio: both vintage panels
    # are exact-decimal yearly sums, the per-series link factor is one
    # quotient composed from identical doubles, and the rescale is one
    # double multiply rounded at the output (cf. reference
    # dfx_etl/storage.py's versioned vintages).
    oracle=f"""
    WITH obs AS ({OBS_SQL}),
    o AS (
        SELECT indicator_name, country_code, year,
               CAST(SUM(CAST(value AS DECIMAL(18,4)))
                    AS DECIMAL(18,4)) AS so
        FROM obs WHERE event_id % 2 = 0 GROUP BY 1, 2, 3
    ),
    n AS (
        SELECT indicator_name, country_code, year,
               CAST(SUM(CAST(value AS DECIMAL(18,4)))
                    AS DECIMAL(18,4)) AS sn
        FROM obs WHERE event_id % 2 = 1 GROUP BY 1, 2, 3
    ),
    b AS (
        SELECT * FROM o
        FULL JOIN n USING (indicator_name, country_code, year)
    ),
    r AS (
        SELECT indicator_name, country_code,
               CAST(SUM(sn) AS DOUBLE) / CAST(SUM(so) AS DOUBLE) AS ratio
        FROM b WHERE so IS NOT NULL AND sn IS NOT NULL
        GROUP BY 1, 2
        HAVING SUM(so) <> 0
    )
    SELECT b.indicator_name, b.country_code, b.year,
           round(CASE WHEN b.sn IS NOT NULL THEN CAST(b.sn AS DOUBLE)
                      ELSE CAST(b.so AS DOUBLE) * r.ratio END, 6)
               AS spliced,
           CASE WHEN b.sn IS NOT NULL THEN 'new'
                ELSE 'rescaled_old' END AS source
    FROM b JOIN r USING (indicator_name, country_code)
    """,
)
def ind_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vintage splice: ratio-link the old and new vintages of each
    series over their overlap years so pre-revision history stays
    level-comparable (``operators.indicator.splice_series``). Series
    with no overlap are DROPPED, never passed through unscaled."""
    obs = observations(spark, sf_dir).localCheckpoint(
        eager=False
    )  # feeds BOTH vintage filters (§4)

    def vintage(pred):
        return (
            obs.filter(pred)
            .groupBy("indicator_name", "country_code", "year")
            .agg(F.sum(dec("value")).cast("decimal(18,4)").alias("sv"))
        )

    return ops.splice_series(
        vintage(F.col("event_id") % 2 == 0),
        vintage(F.col("event_id") % 2 == 1),
        ["indicator_name", "country_code"],
    )


@query(
    "ind_ytd",
    # Year-to-date cumulative per series: the BI staple. The panel is
    # (indicator, country, year)-grain with a DAY refinement derived
    # from the observation stream; here the YTD frame is per
    # (series, year) over months — calendar-bounded per group by
    # construction.
    oracle=f"""
    WITH obs AS ({OBS_SQL}),
    monthly AS (
        SELECT indicator_name, country_code, year,
               CAST(date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('month',
                         TIMESTAMP '2024-01-01' + INTERVAL (event_id % 330) DAY)
                         AS DATE)) AS BIGINT) AS m_key,
               SUM(CAST(value AS DECIMAL(18,4))) AS mv
        FROM obs
        GROUP BY 1, 2, 3, 4
    )
    SELECT indicator_name, country_code, year, m_key,
           CAST(mv AS DOUBLE) AS month_value,
           CAST(SUM(mv) OVER (
               PARTITION BY indicator_name, country_code, year
               ORDER BY m_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS ytd_value
    FROM monthly
    """,
)
def ind_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-to-date cumulative per series (the BI running-total
    staple): monthly sums per (indicator, country, year) folded into
    a YTD curve.

    A sub-year month key derives deterministically from the
    observation stream (the panel's native grain is yearly); the
    cumulative window is per (series, year) over MONTHS — ≤12 rows
    per frame by construction, the strongest boundedness in the
    registry. Monthly sums stay exact decimal; both output columns
    cast once.
    """
    from pyspark.sql import Window

    obs = observations(spark, sf_dir)
    m_key = F.datediff(
        F.date_trunc(
            "month",
            F.lit("2024-01-01").cast("date")
            + (F.col("event_id") % 330).cast("int"),
        ).cast("date"),
        F.lit("1970-01-01").cast("date"),
    ).cast("bigint")
    monthly = obs.groupBy(
        "indicator_name",
        "country_code",
        "year",
        m_key.alias("m_key"),
    ).agg(F.sum(dec("value")).alias("mv"))
    w = (
        Window.partitionBy("indicator_name", "country_code", "year")
        .orderBy("m_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "indicator_name",
        "country_code",
        "year",
        "m_key",
        F.col("mv").cast("double").alias("month_value"),
        F.sum("mv").over(w).cast("double").alias("ytd_value"),
    )


@query(
    "ind_price_index",
    # Laspeyres / Paasche / Fisher price indices between consecutive
    # shipment years, the statistical-agency compilation the
    # reference's indicator domain publishes. Unit values compose as
    # rev/qty quotients of exact decimal sums (identical doubles both
    # engines); each basket TERM (p·q) re-casts to DECIMAL before the
    # basket Σ so the cross-part sum is order-independent; the three
    # index quotients and the Fisher sqrt compose once at the output.
    oracle="""
    WITH py AS (
        SELECT l_partkey,
               EXTRACT(year FROM l_shipdate) AS yr,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                          AS DOUBLE) AS p
        FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
        SELECT b.yr AS base_year, c.yr AS comp_year,
               SUM(CAST(c.p * b.q AS DECIMAL(18,6))) AS l_num,
               SUM(CAST(b.p * b.q AS DECIMAL(18,6))) AS l_den,
               SUM(CAST(c.p * c.q AS DECIMAL(18,6))) AS p_num,
               SUM(CAST(b.p * c.q AS DECIMAL(18,6))) AS p_den,
               COUNT(*) AS n_parts
        FROM py b JOIN py c
          ON b.l_partkey = c.l_partkey AND c.yr = b.yr + 1
        GROUP BY 1, 2
    )
    SELECT CAST(base_year AS INT) AS base_year,
           CAST(comp_year AS INT) AS comp_year,
           CAST(n_parts AS BIGINT) AS n_parts,
           round(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6)
               AS laspeyres,
           round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6)
               AS paasche,
           round(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
                      * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))),
                 6) AS fisher
    FROM pairs
    """,
)
def ind_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices between
    consecutive shipment years — the price-statistics compilation at
    the heart of the reference's indicator domain (base-weighted,
    current-weighted, and their geometric mean).

    Per (part, year) unit values reduce once (combinable exact-decimal
    sums; the rev/qty quotient composes from identical doubles);
    consecutive years match per part with one self-equi-join
    co-partitioned on partkey; each basket term re-casts to DECIMAL
    before the cross-part Σ so basket totals are order-independent;
    the index quotients and the IEEE-exact sqrt compose once.
    """
    from ..sources import read_tables as _rts

    (lineitem,) = _rts(spark, sf_dir, "lineitem")
    py = lineitem.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(dec("l_quantity")).cast("double").alias("q"),
        (
            F.sum(dec("l_extendedprice")).cast("double")
            / F.sum(dec("l_quantity")).cast("double")
        ).alias("p"),
    )
    b = py.alias("b")
    c = py.alias("c")
    pairs = (
        b.join(
            c,
            (F.col("b.l_partkey") == F.col("c.l_partkey"))
            & (F.col("c.yr") == F.col("b.yr") + 1),
        )
        .groupBy(
            F.col("b.yr").alias("base_year"),
            F.col("c.yr").alias("comp_year"),
        )
        .agg(
            F.sum((F.col("c.p") * F.col("b.q")).cast("decimal(18,6)")).alias("l_num"),
            F.sum((F.col("b.p") * F.col("b.q")).cast("decimal(18,6)")).alias("l_den"),
            F.sum((F.col("c.p") * F.col("c.q")).cast("decimal(18,6)")).alias("p_num"),
            F.sum((F.col("b.p") * F.col("c.q")).cast("decimal(18,6)")).alias("p_den"),
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        )
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den").cast("double")
    paas = F.col("p_num").cast("double") / F.col("p_den").cast("double")
    return pairs.select(
        F.col("base_year").cast("int").alias("base_year"),
        F.col("comp_year").cast("int").alias("comp_year"),
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@query(
    "ind_chained_index",
    # Chain-linked Laspeyres index (base year = 100): the year-over-
    # year links are ind_price_index's laspeyres quotients (rounded
    # 6dp — published-link practice), chained by SEQUENTIAL rounded
    # multiplication, which both engines replay with the identical
    # recursive CTE — per-step rounding makes the fold
    # order-DEFINED, so the hash match proves the chain arithmetic,
    # not just the links.
    oracle="""
    WITH RECURSIVE py AS (
        SELECT l_partkey,
               EXTRACT(year FROM l_shipdate) AS yr,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                          AS DOUBLE) AS p
        FROM lineitem GROUP BY 1, 2
    ),
    links AS (
        SELECT c.yr AS comp_year,
               round(CAST(SUM(CAST(c.p * b.q AS DECIMAL(18,6)))
                          AS DOUBLE)
                     / CAST(SUM(CAST(b.p * b.q AS DECIMAL(18,6)))
                            AS DOUBLE), 6) AS link
        FROM py b JOIN py c
          ON b.l_partkey = c.l_partkey AND c.yr = b.yr + 1
        GROUP BY 1
    ),
    chain(yr, idx) AS (
        SELECT (SELECT MIN(comp_year) - 1 FROM links),
               CAST(100.0 AS DOUBLE)
        UNION ALL
        SELECT l.comp_year, round(c.idx * l.link, 6)
        FROM chain c JOIN links l ON l.comp_year = c.yr + 1
    )
    SELECT CAST(yr AS INT) AS year, idx AS chained_index FROM chain
    """,
)
def ind_chained_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-linked Laspeyres price index, base year = 100 — the
    multi-year CHAINING step a statistical agency runs on top of
    ``ind_price_index``'s year-over-year links (annual-overlap
    method: each link re-weights to the previous year's basket, the
    chain multiplies rounded published links).

    The links frame is YEAR-grain (calendar-bounded — the
    ``BOUNDED_EXACT`` argument: recursion depth = #years, never data
    volume), built with the combinable exact-decimal basket sums
    shared with ``ind_price_index``; the chain itself is Spark 4's
    ``WITH RECURSIVE`` over that tiny frame, per-step 6dp rounding
    making the sequential fold order-defined and engine-portable.
    """
    from ..sources import read_tables as _rts

    (lineitem,) = _rts(spark, sf_dir, "lineitem")
    py = lineitem.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(dec("l_quantity")).cast("double").alias("q"),
        (
            F.sum(dec("l_extendedprice")).cast("double")
            / F.sum(dec("l_quantity")).cast("double")
        ).alias("p"),
    )
    b, c = py.alias("b"), py.alias("c")
    links = (
        b.join(
            c,
            (F.col("b.l_partkey") == F.col("c.l_partkey"))
            & (F.col("c.yr") == F.col("b.yr") + 1),
        )
        .groupBy(F.col("c.yr").alias("comp_year"))
        .agg(
            F.round(
                F.sum(
                    (F.col("c.p") * F.col("b.q")).cast("decimal(18,6)")
                ).cast("double")
                / F.sum(
                    (F.col("b.p") * F.col("b.q")).cast("decimal(18,6)")
                ).cast("double"),
                6,
            ).alias("link")
        )
    )
    # materialize the year-grain links ONCE: the recursive join
    # re-reads the view per iteration, and without the checkpoint each
    # of the #years steps would re-run the whole basket aggregation
    links = links.coalesce(1).localCheckpoint(eager=True)
    rows = links.collect()  # control-plane: one row per period
    if len(rows) > CHAIN_CTE_MAX_STEPS:
        # long chain: ~0.3-0.4 s/step of recursive-CTE driver
        # scheduling would dominate — fold the collected links
        # driver-side with the identical HALF_UP arithmetic
        # (adaptive swap, VERDICT r12 #5; pinned bit-identical)
        return spark.createDataFrame(
            _chain_fold_rows(rows, ["link"]),
            "year int, chained_index double",
        )
    links.createOrReplaceTempView("__ind_chain_links")
    return spark.sql(
        """
        WITH RECURSIVE chain(yr, idx) AS (
            SELECT (SELECT MIN(comp_year) - 1 FROM __ind_chain_links),
                   CAST(100.0 AS DOUBLE)
            UNION ALL
            SELECT l.comp_year, round(c.idx * l.link, 6)
            FROM chain c JOIN __ind_chain_links l ON l.comp_year = c.yr + 1
        )
        SELECT CAST(yr AS INT) AS year, idx AS chained_index FROM chain
        """
    )


# --- Adaptive chain folding (VERDICT r12 #5) -----------------------
# The recursive-CTE chain costs ~0.3-0.4 s of driver scheduling PER
# STEP, flat in data volume (SCALE.md §Chain-fold step cost and the
# adaptive long-chain swap) — fine at calendar-year depth, a cliff
# for a monthly/hundreds-step chain. Above CHAIN_CTE_MAX_STEPS the
# links frame — already control-plane: one row per period, coalesced
# to 1 partition and checkpointed — is collected and folded
# driver-side with the SAME arithmetic Spark's Round applies to a
# double (IEEE float64 multiply, then HALF_UP at 6dp on the shortest
# round-trip decimal: Java BigDecimal.valueOf(d) parses
# Double.toString(d); Python's Decimal(repr(x)) is the same
# construction), so both paths are pytest-pinned bit-identical
# (tests/test_round13_ops.py) and the recursive CTE stays the oracle
# face the driver replays in DuckDB.
#
# r15: default dropped 40 → 0 (fold always). The r13 step-cost table
# already showed the CTE pays ~0.3–0.4 s of driver scheduling per
# step at ANY data volume while the bit-identical fold is ~free, and
# this round's host runs per-job latency ~7× higher still — the
# year-depth chains (7 steps) were paying ~2.4 s each for zero
# arithmetic difference. The CTE path remains fully pinned
# (test_round13_ops monkeypatches the threshold both ways and asserts
# equality) and remains the DuckDB oracle's face; raising the constant
# restores the in-engine CTE for demonstration.

CHAIN_CTE_MAX_STEPS = 0


def _round6_half_up(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    # prec=400: Java's BigDecimal.setScale is arbitrary-precision;
    # Python's default 28-digit context raises InvalidOperation
    # quantizing a value past ~1e22 to 6dp. 400 digits covers the
    # full double range (1.8e308 needs 309 integer + 6 fraction
    # digits) — control-plane scalars, so the wide context is free.
    with localcontext() as ctx:
        ctx.prec = 400
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )


def _chain_fold_rows(
    links_rows, link_cols: list[str], period_col: str = "comp_year"
) -> list[tuple]:
    """Driver-side replay of the recursive CTE's fold: start at
    min(period)−1 with every chain at 100.0, then walk CONSECUTIVE
    periods only (the CTE's ``l.comp_year = c.yr + 1`` join stops at
    a calendar gap, so the fold must too). ``period_col`` names the
    link frame's period key (year for the annual chains, a month
    index for ``ind_chained_index_monthly``).

    A NULL link (e.g. a zero-quantity denominator) must degrade
    exactly like the CTE face: ``round(idx * NULL, 6)`` is NULL and
    every later product stays NULL, while the walk itself continues
    (the recursive join is on the period key, not the value) — so the
    fold propagates ``None`` instead of raising on ``float(None)``."""
    by_year = {int(r[period_col]): r for r in links_rows}
    if not by_year:  # CTE seed over an empty links frame: (NULL, 100…)
        return [(None,) + (100.0,) * len(link_cols)]
    yr = min(by_year) - 1
    vals = [100.0] * len(link_cols)
    out = [(yr, *vals)]
    while yr + 1 in by_year:
        yr += 1
        row = by_year[yr]
        vals = [
            None
            if v is None or row[c] is None
            else _round6_half_up(v * float(row[c]))
            for v, c in zip(vals, link_cols)
        ]
        out.append((yr, *vals))
    return out


@query(
    "ind_chained_index_monthly",
    # The LONG-chain face (r13): ~82 month-over-month links, so the
    # Spark side runs the ADAPTIVE DRIVER FOLD (>40 links) while the
    # oracle replays the full recursive CTE in DuckDB — a hash match
    # pins the fold's HALF_UP arithmetic against an independent
    # engine's recursion at ~82 compounded roundings, the depth
    # regime the yearly keys never reach. The link is the DUTOT form
    # (ratio of matched-sample average prices — sums before any
    # division): at month grain a part has ~1-2 lineitems, so any
    # per-part unit-price ratio is heavy-tailed (E[1/qty] ≫ 1/E[qty])
    # and a Laspeyres link on this synthetic data compounds to ~1e28,
    # past meaningful 6dp rounding; Dutot's sum-level ratio
    # concentrates near 1 and chains to O(100).
    oracle="""
    WITH RECURSIVE pm AS (
        SELECT l_partkey,
               CAST(EXTRACT(year FROM l_shipdate) * 12
                    + EXTRACT(month FROM l_shipdate) - 1 AS INTEGER)
                   AS m,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS ext,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    links AS (
        SELECT c.m AS comp_month,
               round((CAST(SUM(c.ext) AS DOUBLE)
                      / CAST(SUM(c.qty) AS DOUBLE))
                     / (CAST(SUM(b.ext) AS DOUBLE)
                        / CAST(SUM(b.qty) AS DOUBLE)), 6) AS link
        FROM pm b JOIN pm c
          ON b.l_partkey = c.l_partkey AND c.m = b.m + 1
        GROUP BY 1
    ),
    chain(m, idx) AS (
        SELECT (SELECT MIN(comp_month) - 1 FROM links),
               CAST(100.0 AS DOUBLE)
        UNION ALL
        SELECT l.comp_month, round(c.idx * l.link, 6)
        FROM chain c JOIN links l ON l.comp_month = c.m + 1
    )
    SELECT CAST(m AS INT) AS month_idx, idx AS chained_index FROM chain
    """,
)
def ind_chained_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-linked DUTOT price index at MONTH grain, base = 100 —
    the long-chain face of ``ind_chained_index`` (r13, VERDICT r12
    #5): ~82 month-over-month links exceed ``CHAIN_CTE_MAX_STEPS``,
    so this key runs the driver-side decimal fold in production AND
    under the driver's oracle gate, where DuckDB replays the full
    recursive CTE — stamping the adaptive scale path itself, the
    ``dedup_embedding_cosine_banded`` pattern. The Dutot link (ratio
    of matched-common-part average prices, the standard elementary-
    aggregate formula next to Jevons/Carli) keeps every sum exact
    decimal and every link near 1 on this data (see the oracle note);
    ``month_idx`` is year·12 + month − 1 (a gapless integer the chain
    can walk).
    """
    from ..sources import read_tables as _rts

    (lineitem,) = _rts(spark, sf_dir, "lineitem")
    pm = lineitem.groupBy(
        "l_partkey",
        (
            F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1
        ).cast("int").alias("m"),
    ).agg(
        F.sum(dec("l_extendedprice")).alias("ext"),
        F.sum(dec("l_quantity")).alias("qty"),
    )
    b, c = pm.alias("b"), pm.alias("c")
    links = (
        b.join(
            c,
            (F.col("b.l_partkey") == F.col("c.l_partkey"))
            & (F.col("c.m") == F.col("b.m") + 1),
        )
        .groupBy(F.col("c.m").alias("comp_month"))
        .agg(
            F.round(
                (
                    F.sum(F.col("c.ext")).cast("double")
                    / F.sum(F.col("c.qty")).cast("double")
                )
                / (
                    F.sum(F.col("b.ext")).cast("double")
                    / F.sum(F.col("b.qty")).cast("double")
                ),
                6,
            ).alias("link")
        )
    )
    links = links.coalesce(1).localCheckpoint(eager=True)
    rows = links.collect()  # control-plane: one row per month
    if len(rows) > CHAIN_CTE_MAX_STEPS:
        return spark.createDataFrame(
            _chain_fold_rows(rows, ["link"], period_col="comp_month"),
            "month_idx int, chained_index double",
        )
    # short-span inputs (tiny SFs) still chain through the CTE face
    links.createOrReplaceTempView("__ind_chain_links_m")
    return spark.sql(
        """
        WITH RECURSIVE chain(m, idx) AS (
            SELECT (SELECT MIN(comp_month) - 1
                    FROM __ind_chain_links_m),
                   CAST(100.0 AS DOUBLE)
            UNION ALL
            SELECT l.comp_month, round(c.idx * l.link, 6)
            FROM chain c
            JOIN __ind_chain_links_m l ON l.comp_month = c.m + 1
        )
        SELECT CAST(m AS INT) AS month_idx, idx AS chained_index
        FROM chain
        """
    )


_FISHER_LINKS_SQL = """
    WITH RECURSIVE py AS (
        SELECT l_partkey,
               EXTRACT(year FROM l_shipdate) AS yr,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   AS q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE)
                   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                          AS DOUBLE) AS p
        FROM lineitem GROUP BY 1, 2
    ),
    links AS (
        SELECT c.yr AS comp_year,
               round(CAST(SUM(CAST(c.p * b.q AS DECIMAL(18,6)))
                          AS DOUBLE)
                     / CAST(SUM(CAST(b.p * b.q AS DECIMAL(18,6)))
                            AS DOUBLE), 6) AS ll,
               round(CAST(SUM(CAST(c.p * c.q AS DECIMAL(18,6)))
                          AS DOUBLE)
                     / CAST(SUM(CAST(b.p * c.q AS DECIMAL(18,6)))
                            AS DOUBLE), 6) AS pl
        FROM py b JOIN py c
          ON b.l_partkey = c.l_partkey AND c.yr = b.yr + 1
        GROUP BY 1
    ),
    flinks AS (
        SELECT comp_year, ll, pl,
               round(sqrt(ll * pl), 6) AS fl
        FROM links
    ),
    chain(yr, li, pi, fi) AS (
        SELECT (SELECT MIN(comp_year) - 1 FROM flinks),
               CAST(100.0 AS DOUBLE), CAST(100.0 AS DOUBLE),
               CAST(100.0 AS DOUBLE)
        UNION ALL
        SELECT l.comp_year, round(c.li * l.ll, 6),
               round(c.pi * l.pl, 6), round(c.fi * l.fl, 6)
        FROM chain c JOIN flinks l ON l.comp_year = c.yr + 1
    )
    SELECT CAST(yr AS INT) AS year,
           li AS laspeyres_index, pi AS paasche_index,
           fi AS fisher_index
    FROM chain
"""


@query("ind_fisher_chained", oracle=_FISHER_LINKS_SQL)
def ind_fisher_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained Laspeyres, Paasche, and FISHER ideal indices, base year
    = 100 — the annual-chain-weighting method national accounts
    actually publish (the Fisher link is the geometric mean of each
    year's Laspeyres and Paasche links; chaining multiplies the
    ROUNDED published links, so the Fisher chain is its own recursion
    column, not sqrt of the other two chains).

    Same plan skeleton as ``ind_chained_index``: year-grain link
    frame from combinable exact-decimal basket sums (both numerators
    and both denominators in ONE aggregation pass over the
    partkey-co-partitioned self-join), checkpointed once, three
    chains folded in one ``WITH RECURSIVE`` whose per-step 6dp
    rounding makes every fold order-defined and engine-portable
    (sqrt is IEEE-exact on both engines). Depth = #years,
    calendar-bounded.
    """
    from ..sources import read_tables as _rts

    (lineitem,) = _rts(spark, sf_dir, "lineitem")
    py = lineitem.groupBy(
        "l_partkey", F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(dec("l_quantity")).cast("double").alias("q"),
        (
            F.sum(dec("l_extendedprice")).cast("double")
            / F.sum(dec("l_quantity")).cast("double")
        ).alias("p"),
    )
    b, c = py.alias("b"), py.alias("c")
    links = (
        b.join(
            c,
            (F.col("b.l_partkey") == F.col("c.l_partkey"))
            & (F.col("c.yr") == F.col("b.yr") + 1),
        )
        .groupBy(F.col("c.yr").alias("comp_year"))
        .agg(
            F.round(
                F.sum(
                    (F.col("c.p") * F.col("b.q")).cast("decimal(18,6)")
                ).cast("double")
                / F.sum(
                    (F.col("b.p") * F.col("b.q")).cast("decimal(18,6)")
                ).cast("double"),
                6,
            ).alias("ll"),
            F.round(
                F.sum(
                    (F.col("c.p") * F.col("c.q")).cast("decimal(18,6)")
                ).cast("double")
                / F.sum(
                    (F.col("b.p") * F.col("c.q")).cast("decimal(18,6)")
                ).cast("double"),
                6,
            ).alias("pl"),
        )
        .withColumn("fl", F.round(F.sqrt(F.col("ll") * F.col("pl")), 6))
    )
    links = links.coalesce(1).localCheckpoint(eager=True)
    rows = links.collect()  # control-plane: one row per period
    if len(rows) > CHAIN_CTE_MAX_STEPS:
        # adaptive long-chain swap — see _chain_fold_rows
        return spark.createDataFrame(
            _chain_fold_rows(rows, ["ll", "pl", "fl"]),
            "year int, laspeyres_index double, paasche_index double,"
            " fisher_index double",
        )
    links.createOrReplaceTempView("__ind_fisher_links")
    return spark.sql(
        """
        WITH RECURSIVE chain(yr, li, pi, fi) AS (
            SELECT (SELECT MIN(comp_year) - 1 FROM __ind_fisher_links),
                   CAST(100.0 AS DOUBLE), CAST(100.0 AS DOUBLE),
                   CAST(100.0 AS DOUBLE)
            UNION ALL
            SELECT l.comp_year, round(c.li * l.ll, 6),
                   round(c.pi * l.pl, 6), round(c.fi * l.fl, 6)
            FROM chain c JOIN __ind_fisher_links l
              ON l.comp_year = c.yr + 1
        )
        SELECT CAST(yr AS INT) AS year,
               li AS laspeyres_index, pi AS paasche_index,
               fi AS fisher_index
        FROM chain
        """
    )
