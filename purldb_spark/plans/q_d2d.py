"""D2D request-intake query (operators/d2d.py — reference
matchcode/api.py:454-566 D2DViewSet/D2DSerializer, purldb/urls.py:58).
Fixture covers the endpoint's response matrix: clean from/to url pair,
textarea submission with embedded newlines + blank lines, unreachable-url
rejection with the literal error message, and blank-element dropping.
The urls carry the `part_packages` name."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.catalog.tables import load
from purldb_spark.operators.d2d import (
    D2D_DESCRIPTION,
    MSG_COULD_NOT_FETCH,
    RUN_NOT_STARTED,
    d2d_create,
)
from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import NAME, PART_PACKAGES_SQL
from purldb_spark.plans.registry import query

_FROM_SQL = "'https://repo.example.org/' || name || '-from.zip#from'"
_TO_SQL = "'https://repo.example.org/' || name || '-to.zip#to'"


@query(
    "x_d2d_request",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    u AS (
      SELECT k, {_FROM_SQL} AS u_from, {_TO_SQL} AS u_to FROM base
    )
    SELECT k AS request_id, 'created' AS status, CAST(NULL AS VARCHAR) AS error,
           'd2d-' || CAST(k AS VARCHAR) AS project_name,
           u_from || '|' || u_to AS input_sources,
           'd2d' AS pipeline_name, 'Java,Javascript,Elf,Go' AS selected_groups,
           '{RUN_NOT_STARTED}' AS run_status,
           '{D2D_DESCRIPTION}' AS run_description
    FROM u WHERE k % 4 = 0
    UNION ALL
    SELECT k, 'created', CAST(NULL AS VARCHAR), 'd2d-' || CAST(k AS VARCHAR),
           u_from || '|' || u_to,
           'd2d', 'Java,Javascript,Elf,Go', '{RUN_NOT_STARTED}',
           '{D2D_DESCRIPTION}'
    FROM u WHERE k % 8 = 1
    UNION ALL
    SELECT k, 'created', CAST(NULL AS VARCHAR), 'd2d-' || CAST(k AS VARCHAR),
           u_from || '|' || u_to || '|' || u_from,
           'd2d', 'Java,Javascript,Elf,Go', '{RUN_NOT_STARTED}',
           '{D2D_DESCRIPTION}'
    FROM u WHERE k % 8 = 5
    UNION ALL
    SELECT k, 'error',
           '{MSG_COULD_NOT_FETCH}' || u_from,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM u WHERE k % 4 = 2
    UNION ALL
    SELECT k, 'created', CAST(NULL AS VARCHAR), 'd2d-' || CAST(k AS VARCHAR),
           u_to,
           'd2d', 'Java,Javascript,Elf,Go', '{RUN_NOT_STARTED}',
           '{D2D_DESCRIPTION}'
    FROM u WHERE k % 4 = 3
    """,
)
def x_d2d_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/api/d2d as a batch pass: one request row per part key —
    k%4=0 a clean [#from, #to] pair; k%8=1 the same pair POSTed as ONE
    textarea string with embedded newlines and a trailing blank line
    (normalized per matchcode/api.py:549-556); k%8=5 TWO textarea elements,
    exercising the reference's mid-loop input_urls rebinding (the second
    textarea yields only the first line of the first — api.py:551); k%4=2
    an unreachable from-url (whole request rejected with the api.py:542
    message); k%4=3 a list with a whitespace-only element (dropped,
    api.py:553-556)."""
    p = load(spark, sf_dir, "part")
    k = S.col("p_partkey")
    u_from = S.concat("https://repo.example.org/", NAME, "-from.zip#from")
    u_to = S.concat("https://repo.example.org/", NAME, "-to.zip#to")
    input_urls = (
        S.when(k % 4 == 0, S.array(u_from, u_to))
        .when(
            k % 8 == 1,
            # one textarea string: urls newline-joined, padded, blank line
            S.array(S.concat(" ", u_from, "\n", u_to, "\n\n ")),
        )
        .when(
            k % 8 == 5,
            # TWO textarea elements: the reference rebinds input_urls after
            # the first split (matchcode/api.py:551), so the second textarea
            # contributes only the first line of the FIRST one — expected
            # input_sources is from|to|from, not from|to|to|from
            S.array(
                S.concat(" ", u_from, "\n", u_to, "\n\n "),
                S.concat(u_to, "\n", u_from),
            ),
        )
        .when(k % 4 == 2, S.array(u_from, u_to))
        .otherwise(S.array("   ", u_to))
    )
    unreachable = S.when(k % 4 == 2, S.array(u_from)).otherwise(
        S.array().cast("array<string>")
    )
    requests = S.sel(
        p,
        k.cast("long").alias("request_id"),
        input_urls.alias("input_urls"),
        unreachable.alias("unreachable"),
    )
    return d2d_create(requests)
