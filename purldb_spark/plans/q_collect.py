"""The collect-on-miss flow fixture query (operators/collect.py — the
`/api/collect` equivalent, packagedb/api.py:807-855).

Fixture: purl requests derive from the `part_packages` rows across four
ecosystems (npm/pypi/maven plus an unroutable `weird` type); the catalog
pre-contains every third package; registry "responses" for the misses are synthesized
deterministically from the purl itself, so the DuckDB oracle can replay
the whole flow — hit/miss split, route dispatch, ingest-merge, re-lookup,
and the maven -> github source PackageSet pairing — from first principles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.operators.collect import (
    add_source_package_set,
    collect_on_miss,
)
from purldb_spark.operators.merge import MergeSpec, Policy
from purldb_spark.operators.router import Router
from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query

_TYPED_SQL = f"""
  SELECT k, name, ver, eco,
         CASE WHEN eco = 'maven' THEN 'org.ex' END AS namespace,
         'pkg:' || eco ||
           (CASE WHEN eco = 'maven' THEN '/org.ex' ELSE '' END) ||
           '/' || name || '@' || ver AS purl
  FROM (
    SELECT *, CASE k % 5 WHEN 1 THEN 'pypi' WHEN 2 THEN 'maven'
                   WHEN 4 THEN 'weird' ELSE 'npm' END AS eco
    FROM ({PART_PACKAGES_SQL})
  )
"""

_FETCHED_URL_SQL = """
  CASE eco
    WHEN 'npm' THEN 'https://registry.npmjs.org/' || name || '/-/' || name
                    || '-' || ver || '.tgz'
    WHEN 'pypi' THEN 'https://pypi.org/packages/source/' || substr(name, 1, 1)
                    || '/' || name || '/' || name || '-' || ver || '.tar.gz'
    WHEN 'maven' THEN 'https://repo1.maven.org/maven2/org/ex/' || name || '/'
                    || ver || '/' || name || '-' || ver || '.jar'
  END
"""

_FETCHED_LIC_SQL = """
  CASE eco WHEN 'npm' THEN 'ISC' WHEN 'pypi' THEN 'Apache-2.0'
       WHEN 'maven' THEN 'EPL-1.0' END
"""


def _fetched_url(eco: Column, name: Column, ver: Column) -> Column:
    return (
        F.when(
            eco == "npm",
            F.concat(
                F.lit("https://registry.npmjs.org/"), name, F.lit("/-/"), name,
                F.lit("-"), ver, F.lit(".tgz"),
            ),
        )
        .when(
            eco == "pypi",
            F.concat(
                F.lit("https://pypi.org/packages/source/"),
                F.substring(name, 1, 1), F.lit("/"), name, F.lit("/"), name,
                F.lit("-"), ver, F.lit(".tar.gz"),
            ),
        )
        .when(
            eco == "maven",
            F.concat(
                F.lit("https://repo1.maven.org/maven2/org/ex/"), name, F.lit("/"),
                ver, F.lit("/"), name, F.lit("-"), ver, F.lit(".jar"),
            ),
        )
    )


@query(
    "x_collect_flow",
    oracle=f"""
    WITH typed AS ({_TYPED_SQL}),
    pkgs AS (
      SELECT purl, eco AS type, namespace, name, ver AS version,
             CASE WHEN k % 3 = 0 THEN 'https://cdn.ex/' || name
                  ELSE {_FETCHED_URL_SQL} END AS download_url,
             CASE WHEN k % 3 = 0 THEN 'MIT' ELSE {_FETCHED_LIC_SQL} END
               AS declared_license,
             CASE WHEN k % 3 = 0 THEN 'existing' ELSE 'collected' END AS status,
             CASE WHEN eco = 'maven'
                  THEN md5('pkg:github/ex/' || name || '@' || ver) END
               AS package_set
      FROM typed WHERE eco <> 'weird'
    ),
    noroute AS (
      SELECT purl, NULL AS type, NULL AS namespace, NULL AS name,
             NULL AS version, NULL AS download_url, NULL AS declared_license,
             'no_route' AS status, NULL AS package_set
      FROM typed WHERE eco = 'weird'
    ),
    binaries AS (
      SELECT *, CAST(NULL AS VARCHAR) AS package_content FROM pkgs
      UNION ALL
      SELECT *, NULL FROM noroute
    ),
    sources AS (
      SELECT DISTINCT
             'pkg:github/ex/' || name || '@' || ver AS purl,
             'github' AS type, 'ex' AS namespace, name, ver AS version,
             'https://github.com/ex/' || name || '/archive/' || ver
               || '.tar.gz' AS download_url,
             CAST(NULL AS VARCHAR) AS declared_license,
             'source_created' AS status,
             md5('pkg:github/ex/' || name || '@' || ver) AS package_set,
             'source_repo' AS package_content
      FROM typed WHERE eco = 'maven'
    )
    SELECT * FROM binaries UNION ALL SELECT * FROM sources
    """,
)
def x_collect_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch `/api/collect` (packagedb/api.py:807-855): purl parse ->
    catalog anti-join miss split -> rlike route dispatch (npm/pypi/maven
    routable, `weird` 400s as no_route) -> deterministic registry-response
    mapping -> merge_upsert ingest -> re-lookup, then the maven rows pair
    with their github source repo in a PackageSet
    (find_source_repo.py:137-188): md5(source purl) set id on both the
    binary and the created source_repo row."""
    k = S.col("k")
    eco = (
        S.when(k % 5 == 1, "pypi")
        .when(k % 5 == 2, "maven")
        .when(k % 5 == 4, "weird")
        .otherwise("npm")
    )
    b = S.sel(part_packages(spark, sf_dir), "*", eco.alias("eco"))
    b = S.sel(
        b,
        "*",
        S.when(S.col("eco") == "maven", "org.ex").alias("namespace"),
        S.concat(
            "pkg:",
            S.col("eco"),
            S.when(S.col("eco") == "maven", "/org.ex").otherwise(""),
            "/",
            S.col("name"),
            "@",
            S.col("ver"),
        ).alias("purl"),
    )
    catalog = S.sel(
        b.filter("k % 3 = 0 AND eco != 'weird'"),
        S.col("eco").alias("type"),
        "namespace",
        "name",
        S.col("ver").alias("version"),
        S.concat("https://cdn.ex/", S.col("name")).alias("download_url"),
        S.lit("MIT").alias("declared_license"),
    )
    requests = b.select("purl")

    router = Router()
    for eco in ("npm", "pypi", "maven"):
        router.append(rf"^pkg:{eco}/", lambda u: u, name=f"{eco}_handler")

    def fetch_map(routed: DataFrame) -> DataFrame:
        eco = F.col("type")
        return routed.select(
            "type",
            "namespace",
            "name",
            "version",
            _fetched_url(eco, F.col("name"), F.col("version")).alias(
                "download_url"
            ),
            F.when(eco == "npm", "ISC")
            .when(eco == "pypi", "Apache-2.0")
            .when(eco == "maven", "EPL-1.0")
            .alias("declared_license"),
        )

    spec = MergeSpec(
        key=("type", "namespace", "name", "version"),
        fields={
            "download_url": Policy.FILL_IF_NULL,
            "declared_license": Policy.FILL_IF_NULL,
        },
    )
    packages, _after = collect_on_miss(requests, catalog, router, fetch_map, spec)
    return add_source_package_set(
        packages,
        F.when(
            F.col("type") == "maven",
            F.concat(
                F.lit("pkg:github/ex/"), F.col("name"), F.lit("@"),
                F.col("version"),
            ),
        ),
        F.concat(
            F.lit("https://github.com/ex/"), F.col("name"), F.lit("/archive/"),
            F.col("version"), F.lit(".tar.gz"),
        ),
    )
