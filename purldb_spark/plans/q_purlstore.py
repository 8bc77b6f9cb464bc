"""Scan-storage sharding query (functions/purlstore.py — reference
clearcode/store_scans.py:143-175): per-purl storage path and the
coordinate-validity gate, over purls built from the `part_packages`
name/version. The sha512 shard hash is not
DuckDB-expressible — its per-purl assignment and shard balance are
proven against hashlib in tests/test_purlstore.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.functions.purlstore import purl_hash, purl_path
from purldb_spark.plans.part_packages import NAME, PART_PACKAGES_SQL, VER
from purldb_spark.plans.registry import query


@query(
    "x_purl_store_path",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:' ||
             (CASE WHEN k % 3 = 0 THEN 'npm' WHEN k % 3 = 1 THEN 'maven'
                   ELSE 'pypi' END) || '/' ||
             (CASE WHEN k % 3 = 1 THEN 'org.ex/' ELSE '' END) ||
             name || '@' || ver AS purl,
           (CASE WHEN k % 3 = 0 THEN 'npm' WHEN k % 3 = 1 THEN 'maven'
                 ELSE 'pypi' END) ||
             (CASE WHEN k % 3 = 1 THEN '/org.ex' ELSE '' END) ||
             '/' || name || '/' || ver AS purl_path,
           TRUE AS valid
    FROM base
    UNION ALL
    SELECT 'pkg:generic/' || name, 'generic/' || name, FALSE
    FROM base WHERE k % 5 = 0
    """,
)
def x_purl_store_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage path + coordinate validity (store_scans.py:143-161):
    type[/namespace]/name/version with the namespace segment present
    only when the purl has one; versionless purls fail
    is_valid_coordinate."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    name, ver = F.expr(NAME.sql), F.expr(VER.sql)
    ptype = (
        F.when(k % 3 == 0, F.lit("npm"))
        .when(k % 3 == 1, F.lit("maven"))
        .otherwise(F.lit("pypi"))
    )
    ns = F.when(k % 3 == 1, F.lit("org.ex"))
    full = p.select(
        F.concat(
            F.lit("pkg:"), ptype, F.lit("/"),
            F.when(ns.isNotNull(), F.concat(ns, F.lit("/"))).otherwise(F.lit("")),
            name, F.lit("@"), ver,
        ).alias("purl"),
        purl_path(ptype, ns, name, ver).alias("purl_path"),
        (ptype.isNotNull() & name.isNotNull() & ver.isNotNull()).alias("valid"),
    )
    # versionless purls: type/name present, version absent -> invalid
    loose = p.filter(k % 5 == 0).select(
        F.concat(F.lit("pkg:generic/"), name).alias("purl"),
        purl_path(
            F.lit("generic"),
            F.lit(None).cast("string"),
            name,
            F.lit(None).cast("string"),
        ).alias("purl_path"),
        F.lit(False).alias("valid"),
    )
    return full.unionByName(loose)
