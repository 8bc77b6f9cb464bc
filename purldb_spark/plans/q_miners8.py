"""Miner-mapper queries, batch 8: alpm / freebsd (sources/miners8.py).
Fixtures: documents built from the `part_packages` rows, mapped by the
real parsers, expected rows computed directly by the oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners8 import map_alpm_docs, map_freebsd_docs

@query(
    "x_alpm_freebsd_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'alpm' AS type, 'mingw-' || name AS name,
           ver || '-1' AS version,
           'pkg:alpm/mingw-' || name || '@' || ver || '-1' AS purl,
           'Arch pkg ' || name AS description,
           'https://arch.ex/' || name AS repository_homepage_url,
           NULL AS homepage_url,
           CASE WHEN k % 2 = 0 THEN 'GPL; MIT' ELSE 'GPL' END
             AS extracted_license_statement,
           CASE WHEN k % 3 = 0 THEN 'Ann Dev'
                WHEN k % 3 = 1 THEN 'solo' END AS maintainer_name,
           CASE WHEN k % 3 = 0 THEN 'ann@ex.dev' END AS maintainer_email,
           NULL AS maintainer,
           NULL AS keywords,
           cs AS sha256, size, CAST(NULL AS BIGINT) AS installed_size,
           CASE WHEN k % 3 = 0 THEN 'pkg:alpm/glibc; pkg:alpm/openssl'
                ELSE 'pkg:alpm/glibc' END AS dependencies,
           'https://mirror.msys2.org/' || name || '.pkg.tar.zst'
             AS download_url,
           'alpm_metadata' AS datasource_id
    FROM base
    UNION ALL
    SELECT 'freebsd', name, ver,
           'pkg:freebsd/' || name || '@' || ver ||
             '?arch=freebsd:13:x86:64&origin=cat/' || name,
           'FB ' || name, NULL,
           'https://fb.ex/' || name,
           CASE WHEN k % 2 = 1 THEN 'BSD'
                WHEN k % 3 = 0 THEN 'MIT OR GPL'
                ELSE 'MIT AND GPL' END,
           NULL, NULL,
           name || '@fb.org',
           'cat',
           cs, size, size * 2,
           NULL,
           'https://pkg.freebsd.org/FreeBSD:13:amd64/latest/All/' || name
             || '-' || ver || '.pkg',
           'freebsd_compact_manifest'
    FROM base
    UNION ALL
    SELECT 'freebsd', 'sub-' || name, '0.1',
           'pkg:freebsd/sub-' || name || '@0.1',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), NULL, NULL,
           'freebsd_compact_manifest'
    FROM base
    """,
)
def x_alpm_freebsd_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpm .PKGINFO/.BUILDINFO mapping (alpm.py:17-71 + msys2.py:64-246
    parse_pkginfo): repeated license/depend accumulation, packager
    name/email split with the email-less and absent branches, comment
    and junk lines skipped; freebsd packagesite line manifests
    (freebsd.py:98-119): brace/blank lines skipped, arch+origin purl
    qualifiers, licenselogic or/and/single joins, repopath download
    resolution, minimal manifests with null fields."""
    b = part_packages(spark, sf_dir)
    k, name, ver, cs = S.col("k"), S.col("name"), S.col("ver"), S.col("cs")

    lic2 = S.when(k % 2 == 0, "license = MIT\n").otherwise("")
    dep2 = S.when(k % 3 == 0, "depend = openssl\n").otherwise("")
    pkginfo = S.concat(
        "# Generated by makepkg 5.2.2\npkgname = mingw-", name,
        "\npkgbase = ", name,
        "\npkgver = ", ver,
        "-1\npkgdesc = Arch pkg ", name,
        "\nurl = https://arch.ex/", name,
        "\nsize = ", S.col("size").cast("string"),
        "\nlicense = GPL\n",
        lic2,
        "depend = glibc\n",
        dep2,
        "junk line without equals sign\n",
    )
    packager = (
        S.when(k % 3 == 0, "packager = Ann Dev <ann@ex.dev>\n")
        .when(k % 3 == 1, "packager = solo\n")
        .otherwise("")
    )
    buildinfo = S.concat(
        "format = 2\n",
        packager,
        "pkgbuild_sha256sum = ", cs, "\n",
    )
    alpm = map_alpm_docs(
        S.sel(
            b,
            pkginfo.alias("pkginfo"),
            buildinfo.alias("buildinfo"),
            S.concat("mingw-", name).alias("name"),
            S.concat(
                "https://mirror.msys2.org/", name, ".pkg.tar.zst"
            ).alias("download_url"),
        )
    ).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "repository_homepage_url",
        "CAST(NULL AS string) AS homepage_url",
        "extracted_license_statement",
        "maintainer_name",
        "maintainer_email",
        "CAST(NULL AS string) AS maintainer",
        "CAST(NULL AS string) AS keywords",
        "sha256",
        "size",
        "CAST(NULL AS long) AS installed_size",
        "dependencies",
        "download_url",
        "datasource_id",
    )

    logic = (
        S.when(k % 3 == 0, "or")
        .when(k % 3 == 1, "and")
        .otherwise("single")
    )
    lics = S.when(k % 2 == 0, '["MIT","GPL"]').otherwise('["BSD"]')
    line1 = S.concat(
        '{"name":"', name,
        '","origin":"cat/', name,
        '","version":"', ver,
        '","comment":"FB ', name,
        '","maintainer":"', name,
        '@fb.org","www":"https://fb.ex/', name,
        '","arch":"freebsd:13:x86:64","sum":"', cs,
        '","flatsize":', (S.col("size") * 2).cast("string"),
        ',"pkgsize":', S.col("size").cast("string"),
        ',"repopath":"All/', name, "-", ver,
        '.pkg","licenselogic":"', logic,
        '","licenses":', lics,
        ',"categories":["devel","lang"]}',
    )
    packagesite = S.concat(
        "{\n",
        line1,
        '\n\n{"name":"sub-', name,
        '","version":"0.1"}\n}\n',
    )
    freebsd = map_freebsd_docs(
        S.sel(
            b,
            packagesite.alias("packagesite"),
            S.lit("https://pkg.freebsd.org/FreeBSD:13:amd64/latest").alias(
                "base_url"
            ),
        ),
        base_url_col="base_url",
    ).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "CAST(NULL AS string) AS repository_homepage_url",
        "homepage_url",
        "extracted_license_statement",
        "CAST(NULL AS string) AS maintainer_name",
        "CAST(NULL AS string) AS maintainer_email",
        "maintainer",
        "keywords",
        "sha256",
        "size",
        "installed_size",
        "CAST(NULL AS string) AS dependencies",
        "download_url",
        "datasource_id",
    )
    return alpm.unionByName(freebsd)
