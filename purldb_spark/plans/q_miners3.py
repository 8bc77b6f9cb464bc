"""Miner-mapper queries, batch 3: alpine / cran / conda / sourceforge /
fdroid (sources/miners3.py). Fixtures: ecosystem-shaped documents built
with column concat from the `part_packages` rows, mapped by the real
parsers/mappers, expected rows computed directly by the oracle from the
generating index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners3 import (
    map_alpine_blocks,
    map_conda_docs,
    map_cran_docs,
    map_fdroid_docs,
    map_sourceforge_docs,
)

@query(
    "x_alpine_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'apk' AS type, name, ver AS version,
           'pkg:apk/' || name || '@' || ver AS purl,
           'Package ' || name AS description,
           'https://ex.dev/' || name AS repository_homepage_url,
           'MIT' AS extracted_license_statement, size,
           cs AS sha1,
           CASE WHEN k % 3 = 0 THEN 'Ann Dev'
                WHEN k % 3 = 1 THEN 'solo' END AS maintainer_name,
           CASE WHEN k % 3 = 0 THEN 'ann@ex.dev' END AS maintainer_email,
           'https://dl.alpinelinux.org/' || name || '-' || ver || '.apk'
             AS download_url
    FROM base
    UNION ALL
    SELECT 'apk', 'o' || name, '0.0.1',
           'pkg:apk/o' || name || '@0.0.1',
           'Other', NULL, NULL, 1, NULL, NULL, NULL,
           'https://dl.alpinelinux.org/' || name || '-' || ver || '.apk'
    FROM base
    """,
)
def x_alpine_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APKINDEX text parse (alpine.py:67-121): blank-line block split,
    one-letter field map, Q1-base64 checksum -> sha1 hex, maintainer
    name/email split, colon-less lines skipped; the second block exercises
    the all-fields-missing path."""
    b = part_packages(spark, sf_dir)
    name, ver = S.col("name"), S.col("ver")
    maint = (
        S.when(S.col("k") % 3 == 0, "m:Ann Dev <ann@ex.dev>\n")
        .when(S.col("k") % 3 == 1, "m:solo\n")
        .otherwise("")
    )
    apkindex = S.concat(
        "C:Q1",
        S.base64(S.unhex(S.col("cs"))),
        "\nP:",
        name,
        "\nV:",
        ver,
        "\nA:x86_64\nS:",
        S.col("size").cast("string"),
        "\nT:Package ",
        name,
        "\nU:https://ex.dev/",
        name,
        "\nL:MIT\n",
        maint,
        "junk line without separator\n",
        "\nP:o",
        name,
        "\nV:0.0.1\nS:1\nT:Other\n",
    )
    url = S.concat(
        "https://dl.alpinelinux.org/", name, "-", ver, ".apk"
    )
    docs = S.sel(b, apkindex.alias("apkindex"), url.alias("download_url"))
    return map_alpine_blocks(docs).drop("datasource_id")


@query(
    "x_cran_conda_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'cran' AS type, name, ver AS version,
           'pkg:cran/' || name || '@' || ver AS purl,
           'R package ' || name AS description,
           'https://ex.dev/' || name AS homepage_url,
           'GPL-3' AS licenses, 'Ann' AS author,
           'https://cran.r-project.org/src/contrib/' || name || '_' || ver
             || '.tar.gz' AS download_url,
           NULL AS namespace, CAST(NULL AS BIGINT) AS size,
           NULL AS sha256, NULL AS md5, NULL AS deps
    FROM base
    UNION ALL
    SELECT 'cran', name, '0.0.1', 'pkg:cran/' || name || '@0.0.1',
           'Old ' || name, NULL, 'MIT', NULL,
           'https://cran.r-project.org/src/contrib/' || name || '_0.0.1.tar.gz',
           NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 2 = 1
    UNION ALL
    SELECT 'conda', name, ver,
           'pkg:conda/' ||
             (CASE WHEN k % 2 = 0 THEN 'conda-forge' ELSE 'main' END) ||
             '/' || name || '@' || ver,
           CASE WHEN k % 4 = 0 THEN 'Conda pkg' END,
           CASE WHEN k % 4 = 0 THEN 'https://anaconda.org/' || name END,
           nullif(concat_ws('; ',
             CASE WHEN k % 3 = 0 THEN 'BSD-3-Clause' END,
             CASE WHEN k % 4 = 0 THEN 'MIT' END), ''),
           NULL,
           'https://repo.anaconda.com/' || name || '-' || ver AS download_url,
           CASE WHEN k % 2 = 0 THEN 'conda-forge' ELSE 'main' END AS namespace,
           CASE WHEN k % 2 = 0 THEN size + 1 ELSE size END AS size,
           cs AS sha256, substring(cs, 1, 16) AS md5,
           'pkg:conan/python; pkg:conan/numpy' AS deps
    FROM base
    """,
)
def x_cran_conda_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAN DB API versions-map explode with purl-version filter
    (cran.py:196-250) + conda repodata identifier lookup with the
    packages.conda branch, conan-typed dependency purls, and the
    conda-forge info merge (conda.py:15-82)."""
    b = part_packages(spark, sf_dir)
    name, ver, cs = S.col("name"), S.col("ver"), S.col("cs")
    k = S.col("k")

    cran_doc = S.concat(
        '{"Package":"', name,
        '","versions":{"', ver,
        '":{"Description":"R package ', name,
        '","URL":"https://ex.dev/', name,
        '","License":"GPL-3","Author":"Ann"},',
        '"0.0.1":{"Description":"Old ', name,
        '","License":"MIT"}}}',
    )
    want = S.when(k % 2 == 0, ver)
    cran = map_cran_docs(
        S.sel(b, cran_doc.alias("doc"), want.alias("want")), version_col="want"
    ).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "extracted_license_statement AS licenses",
        "author",
        "download_url",
        "CAST(NULL AS string) AS namespace",
        "CAST(NULL AS long) AS size",
        "CAST(NULL AS string) AS sha256",
        "CAST(NULL AS string) AS md5",
        "CAST(NULL AS string) AS deps",
    )

    tarball = S.concat(name, "-", ver, ".tar.bz2")
    condapkg = S.concat(name, "-", ver, ".conda")
    lic = S.when(k % 3 == 0, '"license":"BSD-3-Clause",').otherwise("")
    meta_body = S.concat(
        '{"sha256":"', cs,
        '","md5":"', S.substring(cs, 1, 16),
        '",', lic,
        '"depends":["python >=3.8","numpy"],"size":',
    )
    repodata = S.concat(
        '{"packages":{"', tarball, '":',
        meta_body, S.col("size").cast("string"), "}},",
        '"packages.conda":{"', condapkg, '":',
        meta_body, (S.col("size") + 1).cast("string"), "}}}",
    )
    identifier = S.when(k % 2 == 0, condapkg).otherwise(tarball)
    namespace = S.when(k % 2 == 0, "conda-forge").otherwise("main")
    info = S.when(
        k % 4 == 0,
        S.concat(
            '{"description":"Conda pkg","summary":"sum",',
            '"html_url":"https://anaconda.org/', name,
            '","dev_url":"https://github.com/', name,
            '","license":"MIT"}',
        ),
    )
    conda_docs = S.sel(
        b,
        repodata.alias("doc"),
        identifier.alias("identifier"),
        name.alias("name"),
        namespace.alias("namespace"),
        ver.alias("version"),
        S.concat("https://repo.anaconda.com/", name, "-", ver).alias(
            "download_url"
        ),
        info.alias("package_info"),
    )
    conda = map_conda_docs(conda_docs).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "nullif(concat_ws('; ', extracted_license_statement), '') AS licenses",
        "CAST(NULL AS string) AS author",
        "download_url",
        "namespace",
        "size",
        "sha256",
        "md5",
        "concat_ws('; ', dependencies) AS deps",
    )
    return cran.unionByName(conda)


@query(
    "x_sourceforge_fdroid_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'sourceforge' AS type,
           CASE WHEN k % 3 = 2 THEN 'n-' || name ELSE name END AS name,
           NULL AS version,
           'pkg:sourceforge/' ||
             (CASE WHEN k % 3 = 2 THEN 'n-' || name ELSE name END) AS purl,
           CASE WHEN k % 3 = 0 THEN 'Sum ' || name || chr(10) || 'Long ' || name
                ELSE 'Sum ' || name END AS description,
           CASE WHEN k % 2 = 0 THEN 'https://proj.ex/' || name
                ELSE 'https://sourceforge.net/projects/' || name END
             AS homepage_url,
           'python, c' AS primary_language,
           'mit; MIT License' AS licenses,
           'dev' AS keywords,
           'Dev A' AS contributors,
           NULL AS vcs_url, NULL AS bug_tracking_url,
           NULL AS download_url, NULL AS sha256, CAST(NULL AS BIGINT) AS size,
           NULL AS source_packages
    FROM base
    UNION ALL
    SELECT 'fdroid', name, CAST(k % 100 + 1 AS VARCHAR),
           'pkg:fdroid/' || name || '@' || CAST(k % 100 + 1 AS VARCHAR),
           name || ' tool' || chr(10) || 'Full desc of ' || name,
           'https://site.ex/' || name,
           NULL, 'GPL-2.0-only', 'time', NULL,
           'https://github.com/ex/' || name,
           'https://github.com/ex/' || name || '/issues',
           'https://f-droid.org/repo/' || name || '-src.tar.gz',
           cs, size, NULL
    FROM base
    UNION ALL
    SELECT 'fdroid', name, CAST(k % 100 + 1 AS VARCHAR),
           'pkg:fdroid/' || name || '@' || CAST(k % 100 + 1 AS VARCHAR),
           name || ' tool' || chr(10) || 'Full desc of ' || name,
           'https://site.ex/' || name,
           NULL, 'GPL-2.0-only', 'time', NULL,
           'https://github.com/ex/' || name,
           'https://github.com/ex/' || name || '/issues',
           'https://f-droid.org/repo/' || name || '.apk',
           substring(cs, 1, 16), size + 7,
           'pkg:fdroid/' || name || '@' || CAST(k % 100 + 1 AS VARCHAR)
             || '?download_url=https://f-droid.org/repo/' || name
             || '-src.tar.gz'
    FROM base
    """,
)
def x_sourceforge_fdroid_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sourceforge project-JSON mapping (sourceforge.py:106-178): shortname
    fallback, whitespace-only description parts dropped, license
    shortname+fullname interleave, language join — plus F-Droid index-v2
    mapping (fdroid.py:116-288): en-US description chain with startswith
    dedup, one src row + one apk row per version with source_packages
    linkage."""
    b = part_packages(spark, sf_dir)
    name, ver, cs, k = S.col("name"), S.col("ver"), S.col("cs"), S.col("k")

    shortname = S.when(k % 3 != 2, S.concat('"shortname":"', name, '",')).otherwise(
        ""
    )
    short_desc = (
        S.when(k % 3 == 0, S.concat('"short_description":"Long ', name, '",'))
        .when(k % 3 == 1, '"short_description":"   ",')
        .otherwise("")
    )
    homepage = S.when(
        k % 2 == 0, S.concat('"external_homepage":"https://proj.ex/', name, '",')
    ).otherwise("")
    sf_doc = S.concat(
        '{"summary":"Sum ', name, '",',
        short_desc,
        shortname,
        '"name":"n-', name, '",',
        homepage,
        '"url":"https://sourceforge.net/projects/', name, '",',
        '"developers":[{"name":"Dev A","url":"https://sf.net/u/a"},',
        '{"url":"https://sf.net/u/b"}],',
        '"categories":{"language":[{"shortname":"python"},{"shortname":"c"}],',
        '"license":[{"shortname":"mit","fullname":"MIT License"},',
        '{"shortname":"gpl"}],',
        '"topic":[{"shortname":"dev"}]}}',
    )
    sf = map_sourceforge_docs(S.sel(b, sf_doc.alias("doc"))).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS version",
        "purl",
        "description",
        "homepage_url",
        "primary_language",
        "concat_ws('; ', extracted_license_statement) AS licenses",
        "concat_ws('; ', keywords) AS keywords",
        "concat_ws('; ', contributors) AS contributors",
        "CAST(NULL AS string) AS vcs_url",
        "CAST(NULL AS string) AS bug_tracking_url",
        "CAST(NULL AS string) AS download_url",
        "CAST(NULL AS string) AS sha256",
        "CAST(NULL AS long) AS size",
        "CAST(NULL AS string) AS source_packages",
    )

    vc = (k % 100 + 1).cast("string")
    fdroid_doc = S.concat(
        '{"metadata":{"categories":["time"],',
        '"issueTracker":"https://github.com/ex/', name, '/issues",',
        '"license":"GPL-2.0-only",',
        '"sourceCode":"https://github.com/ex/', name, '",',
        '"webSite":"https://site.ex/', name, '",',
        '"name":{"en-US":"', name, '"},',
        '"summary":{"en-US":"', name, ' tool"},',
        '"description":{"en-US":"Full desc of ', name, '"}},',
        '"versions":{"', cs, '":{',
        '"manifest":{"versionCode":', vc, "},",
        '"src":{"name":"/', name, '-src.tar.gz","sha256":"', cs,
        '","size":', S.col("size").cast("string"), "},",
        '"file":{"name":"/', name, '.apk","sha256":"',
        S.substring(cs, 1, 16),
        '","size":', (S.col("size") + 7).cast("string"), "}}}}",
    )
    fd = map_fdroid_docs(
        S.sel(b, fdroid_doc.alias("doc"), name.alias("name"))
    ).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "CAST(NULL AS string) AS primary_language",
        "extracted_license_statement AS licenses",
        "concat_ws('; ', keywords) AS keywords",
        "CAST(NULL AS string) AS contributors",
        "vcs_url",
        "bug_tracking_url",
        "download_url",
        "sha256",
        "size",
        "nullif(concat_ws('; ', source_packages), '') AS source_packages",
    )
    return sf.unionByName(fd)
