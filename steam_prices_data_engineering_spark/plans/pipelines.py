"""End-to-end reference pipeline parity (SURVEY.md §3.2/§3.3): the two ETL
jobs of `/root/reference/run.py` re-expressed as single declarative Spark
plans, plus the partitioned parquet sink + latest-run discovery surface
(S6/S7/S9/O32).

Job 1 (`steam_prices_transformer.py:193-210`): apps x countries cross
product -> per-pair localized price string (the "fetch") -> FX-rate lookup
with missing-rate NULL path -> two-hypothesis locale parse -> the 4-column
prices table. The HTTP fetch is replaced by a deterministic price
synthesizer so both engines construct byte-identical inputs; the connector
shape (JSON-path extraction) is covered separately by
`steam_api_json_extract`. Spark runs it as one narrow stage: the countries
come pre-joined with their rates and are generated per app by inline(),
and the price string and the parse are the oracle's own SQL strings.

Job 2 (`world_map_transformer.py:275-300`): uk->gb remap + upper-case ->
per-country mean vs world mean with deviation columns -> alpha-2 -> alpha-3
enrichment + euro-zone collapse on one geo dim -> left outer geo join ->
EU windowed max-fill -> constant fill for uncovered countries (O31). It
builds on job 1's frame when given one (the CLI), as the reference's job 2
reads job 1's output.

All dimension tables (countries, FX rates, world geo) are literal static
dims — the Spark plans and the DuckDB VALUES clauses are generated from the
same Python lists so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prices import (
    EUROZONE_ISO2,
    collapse_eurozone,
    normalize_country_iso,
    parse_price_usd,
    parse_price_usd_sql,
)
from ..functions.rounding import dround, dround_sql as R
from ..operators.deviation import group_vs_global_avg
from ..session import landing
from ..sources.steam_api_source import API_PAYLOADS as _API_PAYLOADS
from ..sources.steam_api_source import register_steam_source
from ..sources.tables import read_table, values_frame
from .registry import register

# ---------------------------------------------------------------------------
# Static dims (shared source of truth for both engines). Mirrors the shape of
# `etl_config.yml:18-33` (country -> currency, incl. Steam's 'uk') and the
# rates dict of `steam_prices_transformer.py:93-98`; 'ARS' is deliberately
# absent from the rates dim to exercise the missing-rate NULL path (O11/O33).
# ---------------------------------------------------------------------------

COUNTRIES: list[tuple[str, str]] = [
    ("us", "usd"), ("uk", "gbp"), ("de", "eur"), ("fr", "eur"), ("es", "eur"),
    ("it", "eur"), ("jp", "jpy"), ("br", "brl"), ("ar", "ars"), ("se", "sek"),
    ("no", "nok"), ("pl", "pln"),
]

FX_RATES: list[tuple[str, float]] = [
    ("USD", 1.0), ("GBP", 0.79), ("EUR", 0.92), ("JPY", 151.0), ("BRL", 5.1),
    ("SEK", 10.5), ("NOK", 10.8), ("PLN", 4.0),
]

# (alpha-2, alpha-3, continent): one dim serves both job 2's alpha-2 ->
# alpha-3 lookup and its geo join.
WORLD_GEO: list[tuple[str, str, str]] = [
    ("US", "USA", "North America"), ("GB", "GBR", "Europe"),
    ("DE", "DEU", "Europe"), ("FR", "FRA", "Europe"), ("ES", "ESP", "Europe"),
    ("IT", "ITA", "Europe"), ("JP", "JPN", "Asia"),
    ("BR", "BRA", "South America"), ("AR", "ARG", "South America"),
    ("SE", "SWE", "Europe"), ("NO", "NOR", "Europe"), ("PL", "POL", "Europe"),
    ("CN", "CHN", "Asia"), ("IN", "IND", "Asia"),
]


def _sql_values(rows: list[tuple], cols: list[str], name: str) -> str:
    def lit(v):
        return f"'{v}'" if isinstance(v, str) else repr(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"{name}({', '.join(cols)}) AS (VALUES {body})"


def _values_frame(spark: SparkSession, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Static dim as a SQL VALUES local relation — see
    sources/tables.py:values_frame (shared by every plan module; kept as
    an alias here for the pipeline dims)."""
    return values_frame(spark, rows, cols)


# ---------------------------------------------------------------------------
# Deterministic localized price synthesis (replaces the live Steam fetch, S1).
# Arithmetic on (app, cc) only, as ONE SQL string that Spark evaluates via
# selectExpr and DuckDB verbatim (CAST(... AS STRING) is valid in both):
#   whole = (app*37 + ascii(cc[0])*5 + ascii(cc[1])) % 95 + 5
#   cents = (app*13 + ascii(cc[0])) % 100
#   mil   = (app*3  + ascii(cc[1])) % 1000
# Styles: usd '$W.CC' (forces hypothesis B), eur 'W,CC €' (hypothesis A),
# jpy '¥WCC' (no decimals), else 'W.MMM,CC kr' (thousands style — first regex
# match truncates at the second separator, the reference's documented
# behavior, steam_prices_transformer.py:120).
# ---------------------------------------------------------------------------


def _price_str_sql(app: str, cc: str, currency: str) -> str:
    a1 = f"ascii(substr({cc}, 1, 1))"
    a2 = f"ascii(substr({cc}, 2, 1))"
    whole = f"(({app} * 37 + {a1} * 5 + {a2}) % 95 + 5)"
    cents = f"(({app} * 13 + {a1}) % 100)"
    mil = f"(({app} * 3 + {a2}) % 1000)"
    c2 = f"lpad(CAST({cents} AS STRING), 2, '0')"
    return (
        f"CASE {currency} "
        f"WHEN 'usd' THEN '$' || CAST({whole} AS STRING) || '.' || {c2} "
        f"WHEN 'eur' THEN CAST({whole} AS STRING) || ',' || {c2} || ' €' "
        f"WHEN 'jpy' THEN '¥' || CAST({whole} * 100 + {cents} AS STRING) "
        f"ELSE CAST({whole} AS STRING) || '.' || lpad(CAST({mil} AS STRING), 3, '0') || ',' || {c2} || ' kr' "
        f"END"
    )


# Job-1 as reusable SQL CTEs ending in `job1(app, country_iso, currency_steam,
# usd_price)` so the job-2 oracle can chain onto it.
_JOB1_CTES = f"""
{_sql_values(COUNTRIES, ["cc", "currency"], "countries")},
{_sql_values(FX_RATES, ["rate_cur", "rate"], "fx")},
apps AS (SELECT CAST(p_partkey AS BIGINT) AS app FROM part WHERE p_partkey <= 14),
pairs AS (SELECT app, cc, currency FROM apps CROSS JOIN countries),
fetched AS (
    SELECT app, cc, currency,
           {_price_str_sql("app", "cc", "currency")} AS price_str,
           rate
    FROM pairs LEFT JOIN fx ON upper(currency) = rate_cur
),
job1 AS (
    SELECT app, cc AS country_iso, currency AS currency_steam,
           {R(parse_price_usd_sql("price_str", "rate"), 6)} AS usd_price
    FROM fetched
)
"""

_JOB1_SQL = f"""
WITH {_JOB1_CTES}
SELECT app, country_iso, currency_steam, usd_price FROM job1
"""


# Each country with its FX rate, pre-joined here (the rates dim is keyed on
# upper(currency)); 'ars' keeps a NULL rate, the missing-rate path.
_COUNTRY_RATES = [
    (cc, currency, dict(FX_RATES).get(currency.upper())) for cc, currency in COUNTRIES
]
# The 12 (cc, currency, rate) rows generated per app by inline(): one
# Generate over the apps scan, with no join and no broadcast.
_COUNTRY_RATES_INLINE = "inline(array({}))".format(
    ", ".join(
        f"named_struct('cc', '{cc}', 'currency', '{currency}', 'rate', "
        + ("CAST(NULL AS DOUBLE)" if rate is None else f"{rate!r}D")
        + ")"
        for cc, currency, rate in _COUNTRY_RATES
    )
)


def _job1_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    fetched = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 14)
        .selectExpr("CAST(p_partkey AS BIGINT) AS app", _COUNTRY_RATES_INLINE)
        .selectExpr(
            "app",
            "cc AS country_iso",
            "currency AS currency_steam",
            f"{_price_str_sql('app', 'cc', 'currency')} AS price_str",
            "rate",
        )
    )
    return fetched.select(
        "app",
        "country_iso",
        "currency_steam",
        dround(parse_price_usd("price_str", "rate"), 6).alias("usd_price"),
    )


@register("steam_job1_prices_etl", _JOB1_SQL)
def steam_job1_prices_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-1 end-to-end: cross product (O10) with the FX lookup's
    missing-rate NULL (O11/O33) -> locale parse + conversion (O20-O22) ->
    the reference's 4-column prices schema (`etl_config.yml:40`). The
    countries x rates dim is pre-joined in Python and generated per app by
    inline(), so the whole job is one narrow map stage over the apps scan:
    no join, no broadcast, no shuffle."""
    return _job1_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# Job 2: world-map deviation pipeline over job-1's output.
# ---------------------------------------------------------------------------

_EURO_IN = ", ".join(f"'{c}'" for c in EUROZONE_ISO2)

_JOB2_SQL = f"""
WITH {_JOB1_CTES},
cleaned AS (
    SELECT CASE WHEN country_iso = 'uk' THEN 'gb' ELSE country_iso END AS ciso,
           usd_price
    FROM job1
),
stats AS (
    SELECT upper(ciso) AS c2, avg(usd_price) AS grp
    FROM cleaned GROUP BY 1
),
world AS (SELECT avg(usd_price) AS wavg FROM cleaned),
dev AS (
    SELECT c2, grp, grp / wavg - 1 AS perc_dif,
           (grp / wavg - 1) * wavg AS usd_dif
    FROM stats, world
),
{_sql_values(WORLD_GEO, ["alpha2", "iso_a3", "continent"], "geo")},
geoc AS (
    SELECT alpha2,
           CASE WHEN lower(alpha2) IN ({_EURO_IN}) THEN 'EU' ELSE alpha2 END AS iso_a2,
           iso_a3, continent
    FROM geo
),
merged AS (
    SELECT g.iso_a2, g.iso_a3, g.continent, d.grp, d.perc_dif, d.usd_dif
    FROM geoc g LEFT JOIN dev d ON g.alpha2 = d.c2
),
filled AS (
    SELECT iso_a2, iso_a3, continent, grp, perc_dif,
           CASE WHEN iso_a2 = 'EU'
                THEN max(usd_dif) OVER (PARTITION BY iso_a2)
                ELSE usd_dif END AS usd_dif
    FROM merged
)
SELECT iso_a2, iso_a3, continent,
       {R('grp', 6)} AS usd_price,
       {R('perc_dif', 6)} AS perc_dif,
       {R('usd_dif', 6)} AS usd_dif,
       coalesce({R('usd_dif', 6)}, 0.0) AS steam_value
FROM filled
"""


@register("world_map_job2_deviation", _JOB2_SQL)
def world_map_job2_deviation(
    spark: SparkSession, sf_dir: str, prices: DataFrame | None = None
) -> DataFrame:
    """Job-2 end-to-end (`world_map_transformer.py:275-300`): uk->gb remap
    (O23), per-country mean vs world mean + deviations (O26-O28), alpha-2 ->
    alpha-3 enrichment and euro-zone collapse (O12/O24) from one geo dim,
    left outer geo join keeping uncovered countries (O14), EU windowed
    max-fill (O29), constant fill for missing (O31).

    `prices` is job 1's frame when the caller has already built it (the
    CLI, as the reference's job 2 reads job 1's output); the registry
    query builds it from source. The deviations are broadcast into the
    geo dim; the only shuffles are the two tiny aggregations and the EU
    window."""
    if prices is None:
        prices = _job1_frame(spark, sf_dir)
    cleaned = prices.select(
        normalize_country_iso(F.col("country_iso")).alias("ciso"), "usd_price"
    )
    dev = group_vs_global_avg(
        cleaned.select(F.upper(F.col("ciso")).alias("c2"), "usd_price"),
        "c2",
        "usd_price",
        avg_alias="grp",
    )
    geo = _values_frame(spark, WORLD_GEO, ["alpha2", "iso_a3", "continent"]).select(
        "alpha2",
        collapse_eurozone(F.col("alpha2")).alias("iso_a2"),
        "iso_a3",
        "continent",
    )
    merged = geo.join(F.broadcast(dev), geo.alpha2 == dev.c2, "left")
    w = Window.partitionBy("iso_a2")
    filled = F.when(
        F.col("iso_a2") == "EU", F.max("usd_dif").over(w)
    ).otherwise(F.col("usd_dif"))
    return merged.select(
        "iso_a2",
        "iso_a3",
        "continent",
        dround(F.col("grp"), 6).alias("usd_price"),
        dround(F.col("perc_dif"), 6).alias("perc_dif"),
        dround(filled, 6).alias("usd_dif"),
        F.coalesce(dround(filled, 6), F.lit(0.0)).alias("steam_value"),
    )


# ---------------------------------------------------------------------------
# Connector edge: Steam/OpenExchangeRates JSON payload extraction (S1/S2).
# Pre-fetched payloads (what the HTTP client would hand over) enter as a
# DataFrame of JSON strings; extraction is the engine's job — from_json /
# get_json_object mirroring `external_resources.py:130-137,175`.
# ---------------------------------------------------------------------------

# Payload fixtures live with the connector: sources/steam_api_source.py.


def _payload_values() -> str:
    body = ", ".join(
        "(" + str(app) + ", '" + payload.replace("'", "''") + "')"
        for app, payload in _API_PAYLOADS
    )
    return f"payloads(app, body) AS (VALUES {body})"


_API_JSON_SQL = f"""
WITH {_payload_values()},
extracted AS (
    SELECT app,
           json_extract_string(body, '$."' || app || '".data.price_overview.final_formatted') AS price_str,
           json_extract_string(body, '$."' || app || '".data.price_overview.currency') AS currency
    FROM payloads
),
{_sql_values(FX_RATES, ["rate_cur", "rate"], "fx")}
SELECT app, price_str, currency,
       {R(parse_price_usd_sql("price_str", "rate"), 6)} AS usd_price
FROM extracted LEFT JOIN fx ON currency = rate_cur
"""


@register("steam_api_json_extract", _API_JSON_SQL)
def steam_api_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction from raw Steam appdetails payloads (S1,
    `external_resources.py:116-137`): `$.<appid>.data.price_overview.*` via
    get_json_object, missing/failed payloads -> NULL row values (the
    reference's assert-and-skip becomes NULL propagation), then the same
    parse + FX pipeline as job 1."""
    payloads = values_frame(spark, _API_PAYLOADS, ["app", "body"]).select(
        F.col("app").cast("long"), "body"
    )
    extracted = payloads.select(
        "app",
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.final_formatted'))"
        ).alias("price_str"),
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.currency'))"
        ).alias("currency"),
    )
    fx = _values_frame(spark, FX_RATES, ["rate_cur", "rate"])
    return extracted.join(
        F.broadcast(fx), F.col("currency") == F.col("rate_cur"), "left"
    ).select(
        "app",
        "price_str",
        "currency",
        dround(parse_price_usd("price_str", "rate"), 6).alias("usd_price"),
    )


@register("steam_pysource_extract", _API_JSON_SQL)
def steam_pysource_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same S1 extraction, but the payloads arrive through the CUSTOM
    PYTHON DATASOURCE (`spark.read.format("steam_appdetails")`,
    sources/steam_api_source.py) instead of a driver-side createDataFrame:
    one input partition per app id is the parallel-fetch contract a real
    REST connector needs at scale. Downstream extraction/parse/FX join is
    identical, so the oracle is shared with steam_api_json_extract."""
    register_steam_source(spark)
    payloads = spark.read.format("steam_appdetails").load()
    extracted = payloads.select(
        "app",
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.final_formatted'))"
        ).alias("price_str"),
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.currency'))"
        ).alias("currency"),
    )
    fx = _values_frame(spark, FX_RATES, ["rate_cur", "rate"])
    return extracted.join(
        F.broadcast(fx), F.col("currency") == F.col("rate_cur"), "left"
    ).select(
        "app",
        "price_str",
        "currency",
        dround(parse_price_usd("price_str", "rate"), 6).alias("usd_price"),
    )


@register("streaming_steam_source_extract", _API_JSON_SQL)
def streaming_steam_source_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector as a STREAM: readStream on the custom Python data
    source (one REST poll per microbatch, cursor in the offset log — see
    SteamAppDetailsStreamReader), then the identical extraction/parse/FX
    plan on the stream, drained with availableNow into a memory sink. One
    poll covers all fixture payloads, so the result equals the batch
    form and shares its oracle."""
    from ..streaming.sizing import run_stream

    register_steam_source(spark)
    payloads = spark.readStream.format("steam_appdetails").load()
    extracted = payloads.select(
        "app",
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.final_formatted'))"
        ).alias("price_str"),
        F.expr(
            "get_json_object(body, concat('$.', app, '.data.price_overview.currency'))"
        ).alias("currency"),
    )
    fx = _values_frame(spark, FX_RATES, ["rate_cur", "rate"])
    result = extracted.join(
        F.broadcast(fx), F.col("currency") == F.col("rate_cur"), "left"
    ).select(
        "app",
        "price_str",
        "currency",
        dround(parse_price_usd("price_str", "rate"), 6).alias("usd_price"),
    )
    # stateless and fed by the REST source: no parquet landing to size from
    return run_stream(result, "append", None)


# ---------------------------------------------------------------------------
# Partitioned parquet sink + latest-run discovery (S7/S9 write, S6/O32 read).
# ---------------------------------------------------------------------------

_SINK_SQL = f"""
WITH yearly AS (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           {R('sum(o_totalprice)', 2)} AS total
    FROM orders GROUP BY 1
)
SELECT yr, n_orders, total FROM yearly
WHERE yr = (SELECT max(yr) FROM yearly)
"""


@register("sink_partitioned_latest_run", _SINK_SQL)
def sink_partitioned_latest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a run-partitioned parquet table (S7 snappy parquet sink + S9
    partitioned naming, `external_resources.py:38-52`,
    `steam_prices_transformer.py:206-207`), then discover and read back ONLY
    the latest partition (S6/O32 newest-first pick,
    `world_map_transformer.py:280-288`). The read filters on the partition
    column, so Spark prunes to a single directory — the scan never touches
    older runs, which is the 100 TB-safe replacement for list-and-sort
    file discovery."""
    o = read_table(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").cast("int").alias("yr")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dround(F.sum("o_totalprice"), 2).alias("total"),
    )
    sink = landing(spark, "yearly_run_parts", sf_dir)
    yearly.repartition("yr").write.partitionBy("yr").parquet(sink)
    landed = spark.read.parquet(sink)
    latest = landed.agg(F.max("yr").alias("latest_yr"))
    return (
        landed.join(F.broadcast(latest), landed.yr == latest.latest_yr)
        .select(F.col("yr").cast("int").alias("yr"), "n_orders", "total")
    )
