"""ClearlyDefined harvest-mapping queries (sources/clearindex.py vs the
reference's clearindex/harvest.py map_scancode_harvest).

Fixtures: harvest-shaped JSON documents are built with column concat from
the `part_packages` name, the Spark side
runs the actual from_json mapper, and the oracle SQL emits the expected
package / resource rows directly — covering the download_url dead-letter
rule, the file/directory flag, duplicate-path first-wins, and the sorted
newline-joined copyright / license rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.catalog.tables import load
from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import NAME, PART_PACKAGES_SQL
from purldb_spark.plans.registry import query
from purldb_spark.sources.clearindex import harvest_packages, harvest_resources

_BASE_SQL = f"""
  SELECT 'harvest/' || name || '.json' AS cditem_path, name,
         CAST(k % 7 AS VARCHAR) || '.' || CAST(k % 4 AS VARCHAR) AS version,
         k % 5 = 0 AS no_url, size, cs AS sha1, k
  FROM ({PART_PACKAGES_SQL})
"""


def _cditems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CDitem row per part: a harvest doc with one package scan (every
    5th missing its download_url) and three file scans — a file with
    duplicated copyright/license entries, a directory, and a duplicate of
    the first path that must lose first-wins."""
    p = load(spark, sf_dir, "part")
    k = S.col("p_partkey")
    version = S.concat((k % 7).cast("string"), ".", (k % 4).cast("string"))
    purl = S.concat("pkg:generic/", NAME, "@", version)
    url = S.concat("https://dl.example/", NAME, "-", version, ".tar.gz")
    sz = S.col("p_size").cast("long").cast("string")
    sha1 = S.md5(S.col("p_name"))
    pkg_json = S.concat(
        '{"purl":"', purl,
        '","type":"generic","name":"', NAME,
        '","version":"', version, '"',
        S.when(k % 5 == 0, "").otherwise(
            S.concat(',"download_url":"', url, '"')
        ),
        ',"size":', sz,
        ',"sha1":"', sha1, '"}',
    )
    f1 = S.concat(
        '{"path":"src/', NAME, '/main.c","type":"file","size":', sz,
        ',"sha1":"', sha1, '",',
        '"copyrights":[{"value":"(c) B"},{"value":"(c) A"},{"value":"(c) A"}],',
        '"license_expressions":["mit","apache-2.0","mit"]}',
    )
    f2 = S.concat('{"path":"src/', NAME, '","type":"directory"}')
    f3 = S.concat(
        '{"path":"src/', NAME, '/main.c","type":"file","size":',
        (S.col("p_size").cast("long") + 1).cast("string"), "}",
    )
    doc = S.concat(
        '{"content":{"files":[', f1, ",", f2, ",", f3,
        '],"summary":{"packages":[', pkg_json, "]}}}",
    )
    return S.sel(
        p,
        S.concat("harvest/", NAME, ".json").alias("path"),
        doc.alias("data"),
    )


@query(
    "x_cd_harvest_packages",
    oracle=f"""
    WITH base AS ({_BASE_SQL})
    SELECT cditem_path, 'generic' AS type, name, version,
           CASE WHEN no_url THEN NULL
                ELSE 'https://dl.example/' || name || '-' || version || '.tar.gz'
           END AS download_url,
           size, sha1,
           CASE WHEN no_url
                THEN 'CDitemError: empty download_url for package: '
                     || 'pkg:generic/' || name || '@' || version
           END AS map_error
    FROM base
    """,
)
def x_cd_harvest_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harvest docs -> package scan rows with the dead-letter map_error for
    download_url-less scans (harvest.py:183-194)."""
    return harvest_packages(_cditems(spark, sf_dir)).select(
        "cditem_path", "type", "name", "version", "download_url", "size", "sha1", "map_error"
    )


@query(
    "x_cd_harvest_resources",
    oracle=f"""
    WITH base AS ({_BASE_SQL})
    SELECT cditem_path, 'src/' || name || '/main.c' AS path, size, sha1,
           TRUE AS is_file,
           '(c) A' || chr(10) || '(c) B' AS copyright,
           'apache-2.0' || chr(10) || 'mit' AS license_expression
    FROM base
    UNION ALL
    SELECT cditem_path, 'src/' || name, NULL, NULL, FALSE, NULL, NULL
    FROM base
    """,
)
def x_cd_harvest_resources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harvest docs -> one Resource row per scanned file: duplicate paths
    keep the first occurrence, copyright/license statements dedup into
    sorted newline-joined rollups (harvest.py:26-52,134-156)."""
    return harvest_resources(_cditems(spark, sf_dir)).select(
        "cditem_path", "path", "size", "sha1", "is_file", "copyright", "license_expression"
    )
