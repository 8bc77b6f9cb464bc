"""Purl-validation query (operators/validate.py — reference
packagedb/api.py:1124-1235 PurlValidateViewSet). Fixture covers the
full response matrix: invalid syntax, no-check, catalog hit, upstream
version hit/miss, versionless upstream hit/miss, unsupported ecosystem,
over purls built from the `part_packages` rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans import sqltext as S
from purldb_spark.operators.validate import (
    MSG_NOT_VALID,
    MSG_UNSUPPORTED,
    MSG_VALID,
    MSG_VALID_AND_EXISTS,
    MSG_VALID_NOT_EXISTS,
    validate_purls,
)
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query


@query(
    "x_purl_validate",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'npm/' || name || '@' || ver AS purl, FALSE AS valid,
           CAST(NULL AS VARCHAR) AS exists, '{MSG_NOT_VALID}' AS message
    FROM base WHERE k % 8 = 0
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, TRUE, CAST(NULL AS VARCHAR), '{MSG_VALID}'
    FROM base WHERE k % 8 = 1
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, TRUE, 'true',
           '{MSG_VALID_AND_EXISTS}'
    FROM base WHERE k % 8 = 2
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, TRUE, 'true',
           '{MSG_VALID_AND_EXISTS}'
    FROM base WHERE k % 8 = 3
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, TRUE, 'false',
           '{MSG_VALID_NOT_EXISTS}'
    FROM base WHERE k % 8 = 4
    UNION ALL
    SELECT 'pkg:npm/' || name, TRUE, 'true', '{MSG_VALID_AND_EXISTS}'
    FROM base WHERE k % 8 = 5
    UNION ALL
    SELECT 'pkg:npm/' || name, TRUE, 'false', '{MSG_VALID_NOT_EXISTS}'
    FROM base WHERE k % 8 = 6
    UNION ALL
    SELECT 'pkg:swift/github.com/o/' || name || '@' || ver, TRUE, CAST(NULL AS VARCHAR),
           '{MSG_UNSUPPORTED}'
    FROM base WHERE k % 8 = 7
    """,
)
def x_purl_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/api/validate as a batch pass (api.py:1163-1235): syntax check,
    catalog-first existence, upstream version membership for the ten
    supported ecosystems, NULL + dedicated message for unsupported
    ones, and the endpoint's literal message strings."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")

    versioned = S.concat("pkg:npm/", name, "@", ver)
    versionless = S.concat("pkg:npm/", name)
    purl = (
        S.when(k % 8 == 0, S.concat("npm/", name, "@", ver))
        .when((k % 8 == 5) | (k % 8 == 6), versionless)
        .when(
            k % 8 == 7,
            S.concat("pkg:swift/github.com/o/", name, "@", ver),
        )
        .otherwise(versioned)
    )
    requests = S.sel(
        b, purl.alias("purl"), (k % 8 != 1).alias("check_existence")
    )
    catalog = S.sel(b.filter((k % 8 == 2).sql), versioned.alias("purl"))
    vkey = S.concat("pkg:npm/", name)
    upstream = (
        # k%8=3: the pinned version exists upstream
        S.sel(
            b.filter((k % 8 == 3).sql),
            vkey.alias("vkey"), ver.alias("version"),
        )
        # k%8=4: upstream has only a DIFFERENT version
        .unionByName(
            S.sel(
                b.filter((k % 8 == 4).sql),
                vkey.alias("vkey"), S.concat(ver, ".9").alias("version"),
            )
        )
        # k%8=5: versionless purl, any upstream version counts
        .unionByName(
            S.sel(
                b.filter((k % 8 == 5).sql),
                vkey.alias("vkey"), ver.alias("version"),
            )
        )
        # k%8=6: nothing upstream
    )
    return validate_purls(requests, catalog, upstream)
