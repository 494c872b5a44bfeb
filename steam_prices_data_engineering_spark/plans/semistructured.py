"""Semi-structured & table-function API surface: Spark 4 VariantType for
schema-flexible JSON, and the Python UDTF (user-defined TABLE function)
lateral-join form.

The reference parses JSON only at the connector edge with hand indexing
(external_resources.py:130-137); `events_variant_props_bands` is that
semantics as an ENGINE operator over the open-ended Variant encoding —
unlike `events_json_props` (get_json_object string probing), Variant
parses once into a binary-encoded tree and every downstream path access
is a cheap typed probe, the right trade when many fields are read from
the same payload at scale.

`udtf_token_positions` covers the UDTF API (SURVEY §2a lists UDAF/UDTF as
absent from the reference; §2b makes the UDF surface an extension
requirement). A UDTF runs row-at-a-time Python — the SLOW path. The
JVM-native equivalent of this exact query is `posexplode(split(text))`
(used by the token pipelines); this entry exists to exercise the lateral
table-function API, not to win the benchmark, and stays out of
BENCH_QUERIES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, dround_sql as R
from ..sources.tables import read_table, table_views
from .registry import register

# ===========================================================================
# VariantType: open-schema JSON props -> typed probes -> banded aggregate.
# ===========================================================================

_VARIANT_SQL = f"""
SELECT event_type,
       CAST(floor(CAST(json_extract(props, '$.k') AS BIGINT) / 10) AS BIGINT)
           AS k_band,
       CAST(count(*) AS BIGINT) AS n,
       {R('avg(value)', 4)} AS avg_value
FROM events
GROUP BY event_type, k_band
"""


@register("events_variant_props_bands", _VARIANT_SQL)
def events_variant_props_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """props parses ONCE to a Variant; `variant_get` extracts `$.k` as a
    typed long (shredded binary probe, no per-access string re-parse).
    The banded group key keeps the aggregate wide enough to prove the
    extraction ran over every row."""
    e = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.groupBy(
            "event_type",
            F.floor(k / 10).cast("long").alias("k_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
    )


# ===========================================================================
# Python UDTF: lateral token explosion with positions, then re-aggregated
# (keeps the compared result small and order-insensitive).
# ===========================================================================

_UDTF_SQL = """
WITH exploded AS (
    SELECT doc_id, u.u.tok AS tok, u.u.pos AS pos FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                                     (x, i) -> {'tok': x, 'pos': i - 1})) AS u
        FROM documents
    ) u
)
SELECT CAST(floor(pos / 8) AS BIGINT) AS pos_band,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
FROM exploded
GROUP BY pos_band
"""


@register("udtf_token_positions", _UDTF_SQL)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL Python UDTF producing (token, position) rows per document,
    re-aggregated into position-band stats. Arrow-batched input, but the
    generator itself is Python — see module docstring for why the hot-path
    version of this is posexplode(split())."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok: string, pos: bigint")
    class TokenExplode:
        def eval(self, text: str):
            if text:
                for i, t in enumerate(text.split(" ")):
                    yield t, i

    spark.udtf.register("token_explode", TokenExplode)
    sql = "SELECT doc_id, t.tok, t.pos FROM documents, LATERAL token_explode(text) t"
    with table_views(spark, sf_dir, sql):
        exploded = spark.sql(sql)
    return (
        exploded.groupBy(
            F.floor(F.col("pos") / 8).cast("long").alias("pos_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
    )
