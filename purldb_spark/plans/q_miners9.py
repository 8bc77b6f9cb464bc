"""Miner-mapper queries, batch 9: openwrt / gstreamer and freedesktop /
googlecode / openssl (sources/miners9.py). Fixtures: documents built from
the `part_packages` rows, mapped by the real parsers, expected rows
computed directly by the oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners9 import (
    map_freedesktop_pages,
    map_googlecode_v1_docs,
    map_googlecode_v2_docs,
    map_gstreamer_urls,
    map_openssl_listing,
    map_openwrt_docs,
)

@query(
    "x_openwrt_gstreamer_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'openwrt' AS type, 'wrt-' || name AS name, ver || '-2' AS version,
           'pkg:openwrt/wrt-' || name || '@' || ver || '-2' AS purl,
           'OpenWrt pkg ' || name AS description, size,
           CASE WHEN k % 2 = 0
                THEN 'pkg:openwrt/libc; pkg:openwrt/libubox' END
             AS dependencies,
           CASE WHEN k % 3 = 0 THEN 'Ann'
                WHEN k % 3 = 1 THEN 'solo' END AS maintainer_name,
           CASE WHEN k % 3 = 0 THEN 'ann@o.ex' END AS maintainer_email,
           'GPL-2.0' AS declared_license,
           'net; mips_24kc' AS keywords,
           NULL AS download_url, NULL AS homepage_url,
           'openwrt_metadata' AS datasource_id
    FROM base
    UNION ALL
    SELECT 'gstreamer', 'gst-' || name, ver || '.tar.bz2',
           'pkg:gstreamer/gst-' || name || '@' || ver || '.tar.bz2',
           NULL, CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL, NULL,
           'https://gstreamer.freedesktop.org/src/gst-plugins/gst-' || name
             || '-' || ver || '.tar.bz2',
           'https://gstreamer.freedesktop.org', NULL
    FROM base
    """,
)
def x_openwrt_gstreamer_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """openwrt ipk control mapping (openwrt.py:126-170): Depends ->
    purls, maintainer split branches, Section+Architecture keywords;
    gstreamer dist URL split (gstreamer.py:89-111): last-dash
    rpartition keeping the archive extension in the version (reference
    quirk), dash-less names dropped."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    deps = S.when(
        k % 2 == 0, "Depends: libc, libubox (>= 1.0)\n"
    ).otherwise("")
    maint = (
        S.when(k % 3 == 0, "Maintainer: Ann <ann@o.ex>\n")
        .when(k % 3 == 1, "Maintainer: solo\n")
        .otherwise("")
    )
    control = S.concat(
        "Package: wrt-", name,
        "\nVersion: ", ver,
        "-2\n",
        deps,
        "Section: net\nArchitecture: mips_24kc\nInstalled-Size: ",
        S.col("size").cast("string"),
        "\n",
        maint,
        "Description: OpenWrt pkg ", name,
        "\nLicense: GPL-2.0\n",
    )
    wrt = map_openwrt_docs(S.sel(b, control.alias("control"))).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "size",
        "dependencies",
        "maintainer_name",
        "maintainer_email",
        "declared_license",
        "keywords",
        "CAST(NULL AS string) AS download_url",
        "CAST(NULL AS string) AS homepage_url",
        "datasource_id",
    )
    uris = S.sel(
        b,
        S.concat(
            "https://gstreamer.freedesktop.org/src/gst-plugins/gst-",
            name, "-", ver, ".tar.bz2",
        ).alias("uri"),
    ).unionByName(
        # dash-less base name -> dropped by the mapper (gstreamer.py:100)
        S.sel(
            b,
            S.lit("https://gstreamer.freedesktop.org/src/tarball.tar.gz").alias(
                "uri"
            ),
        )
    )
    gst = map_gstreamer_urls(uris).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "CAST(NULL AS string) AS description",
        "CAST(NULL AS long) AS size",
        *[
            f"CAST(NULL AS string) AS {c}"
            for c in (
                "dependencies",
                "maintainer_name",
                "maintainer_email",
                "declared_license",
                "keywords",
            )
        ],
        "download_url",
        "homepage_url",
        "CAST(NULL AS string) AS datasource_id",
    )
    return wrt.unionByName(gst)


@query(
    "x_fd_gc_openssl_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'freedesktop' AS type, name, NULL AS namespace,
           '0.9' AS version,
           'pkg:freedesktop/' || name || '@0.9' AS purl,
           'Project ' || name AS description,
           'https://www.freedesktop.org/wiki/Software/' || name || '/'
             AS homepage_url,
           'https://www.freedesktop.org/software/' || name || '/dist/'
             || name || '-2.0.tar.gz' AS download_url,
           CASE WHEN k % 2 = 0
                THEN 'https://bugs.freedesktop.org/buglist.cgi?product=' || name
                END AS bug_tracking_url,
           CASE WHEN k % 3 = 0
                THEN 'http://cgit.freedesktop.org/' || name || '/tree/' END
             AS code_view_url,
           CASE WHEN k % 3 <> 1
                THEN 'git+git://anongit.freedesktop.org/git/' || name END
             AS vcs_url,
           NULL AS extracted_license_statement, NULL AS keywords,
           CAST(NULL AS BIGINT) AS size, NULL AS release_date,
           NULL AS copyright, NULL AS datasource_id
    FROM base
    UNION ALL
    SELECT 'googlecode', 'gc-' || name, NULL, NULL,
           'pkg:googlecode/gc-' || name,
           CASE WHEN k % 3 = 0 THEN 'Long ' || name
                WHEN k % 3 = 1 THEN 'Sum ' || name
                ELSE 'Sum ' || name || chr(10) || 'Long ' || name END,
           NULL, NULL, NULL, NULL, NULL,
           CASE WHEN k % 2 = 0 THEN 'Apache-2.0' END,
           CASE WHEN k % 5 <> 0 THEN 'a; b' END,
           CAST(NULL AS BIGINT), NULL, NULL, 'googlecode_api_json'
    FROM base
    UNION ALL
    SELECT 'googlecode', 'v1-' || name,
           CASE WHEN k % 2 = 0 THEN 'code.google.com' END, NULL,
           'pkg:googlecode/' ||
             (CASE WHEN k % 2 = 0 THEN 'code.google.com/' ELSE '' END)
             || 'v1-' || name,
           'V1 ' || name, NULL, NULL, NULL, NULL,
           'https://code.google.com/archive/p/' || name,
           'BSD', 'x',
           CAST(NULL AS BIGINT), NULL, NULL, 'googlecode_json'
    FROM base WHERE k % 7 <> 0
    UNION ALL
    SELECT 'generic', 'openssl-' || ver || '-' || CAST(k AS VARCHAR) ||
             CASE WHEN k % 2 = 0 THEN '.tar.gz' ELSE '.tar.gz.sha256' END,
           NULL,
           ver || '-' || CAST(k AS VARCHAR),
           'pkg:generic/openssl-' || ver || '-' || CAST(k AS VARCHAR) ||
             (CASE WHEN k % 2 = 0 THEN '.tar.gz' ELSE '.tar.gz.sha256' END)
             || '@' || ver || '-' || CAST(k AS VARCHAR),
           'The OpenSSL Project is a collaborative effort to develop a '
             || 'robust, commercial-grade, fully featured, and Open Source '
             || 'toolkit implementing the Transport Layer Security (TLS) '
             || 'protocols (including SSLv3) as well as a full-strength '
             || 'general purpose cryptographic library.',
           'https://www.openssl.org/',
           'https://ftp.openssl.org/source/openssl-' || ver || '-'
             || CAST(k AS VARCHAR) ||
             (CASE WHEN k % 2 = 0 THEN '.tar.gz' ELSE '.tar.gz.sha256' END),
           'https://github.com/openssl/openssl/issues',
           'https://github.com/openssl/openssl',
           'git+https://github.com/openssl/openssl.git',
           'OpenSSL License', NULL, size, '2018-09-11 13:01:22',
           'Copyright (c) 1998-2018 The OpenSSL Project' || chr(10) ||
             'Copyright (c) 1995-1998 Eric A. Young, Tim J. Hudson' ||
             chr(10) || 'All rights reserved.',
           'openssl_metadeta'
    FROM base
    """,
)
def x_fd_gc_openssl_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """freedesktop wiki-page mapping (freedesktop.py:66-96): h1
    description, last matching link per category, non-freedesktop links
    ignored, git:// li items; googlecode v2/v1 JSON
    (googlecode.py:193-286): summary+description join, label trim,
    domain namespace, nameless v1 docs dropped; openssl listing rows
    (openssl.py:118-157): suffix-stripped versions, constant project
    fields."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")

    bug_a = S.when(
        k % 2 == 0,
        S.concat(
            '<a href="https://bugs.freedesktop.org/buglist.cgi?product=',
            name, '">bugs</a>',
        ),
    ).otherwise("")
    code_a = S.when(
        k % 3 == 0,
        S.concat(
            '<a href="http://cgit.freedesktop.org/', name,
            '/tree/">code</a>',
        ),
    ).otherwise("")
    git_li = S.when(
        k % 3 != 1,
        S.concat(
            "<li><b>git://anongit.freedesktop.org/git/", name,
            "</b></li>",
        ),
    ).otherwise("")
    html = S.concat(
        "<html><h1> Project ", name, " </h1>",
        '<a href="https://www.freedesktop.org/software/', name,
        "/releases/", name, '-1.0.tar.gz">old</a>',
        '<a href="https://www.freedesktop.org/software/', name,
        "/dist/", name, '-2.0.tar.gz">new</a>',
        bug_a,
        '<a href="https://example.com/other">x</a>',
        code_a,
        git_li,
        "<li>not a repo</li></html>",
    )
    fd = map_freedesktop_pages(
        S.sel(
            b,
            html.alias("html"),
            S.concat(
                "https://www.freedesktop.org/wiki/Software/", name, "/"
            ).alias("uri"),
            S.concat("pkg:freedesktop/", name, "@0.9").alias(
                "package_url"
            ),
        )
    ).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS namespace",
        "version",
        "purl",
        "description",
        "homepage_url",
        "download_url",
        "bug_tracking_url",
        "code_view_url",
        "vcs_url",
        "CAST(NULL AS string) AS extracted_license_statement",
        "CAST(NULL AS string) AS keywords",
        "CAST(NULL AS long) AS size",
        "CAST(NULL AS string) AS release_date",
        "CAST(NULL AS string) AS copyright",
        "CAST(NULL AS string) AS datasource_id",
    )

    summary = S.when(
        k % 3 != 0, S.concat('"summary":"Sum ', name, '",')
    ).otherwise("")
    longd = S.when(
        k % 3 != 1, S.concat('"description":"Long ', name, '",')
    ).otherwise("")
    gc_lic = S.when(k % 2 == 0, '"license":"Apache-2.0",').otherwise("")
    labels = S.when(k % 5 != 0, '"labels":["a"," b ",""],').otherwise(
        ""
    )
    v2_doc = S.concat(
        '{"name":"gc-', name, '",',
        summary, longd, gc_lic, labels,
        '"x":1}',
    )
    gc2 = map_googlecode_v2_docs(S.sel(b, v2_doc.alias("doc")))

    v1_name = S.when(k % 7 != 0, S.concat('"name":"v1-', name, '",')).otherwise(
        ""
    )
    v1_domain = S.when(k % 2 == 0, '"domain":"code.google.com",').otherwise(
        ""
    )
    v1_doc = S.concat(
        "{",
        v1_name,
        '"description":"V1 ', name, '",',
        v1_domain,
        '"license":"BSD","labels":["x"],',
        '"ancestorRepo":"https://code.google.com/archive/p/', name,
        '"}',
    )
    gc1 = map_googlecode_v1_docs(S.sel(b, v1_doc.alias("doc")))

    def _gc_align(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            "type",
            "name",
            "namespace",
            "CAST(NULL AS string) AS version",
            "purl",
            "description",
            *[
                f"CAST(NULL AS string) AS {c}"
                for c in (
                    "homepage_url",
                    "download_url",
                    "bug_tracking_url",
                    "code_view_url",
                )
            ],
            "vcs_url",
            "extracted_license_statement",
            "keywords",
            "CAST(NULL AS long) AS size",
            "CAST(NULL AS string) AS release_date",
            "CAST(NULL AS string) AS copyright",
            "datasource_id",
        )

    ext = S.when(k % 2 == 0, ".tar.gz").otherwise(".tar.gz.sha256")
    ssl_uri = S.concat(
        "https://ftp.openssl.org/source/openssl-", ver,
        "-", k.cast("string"), ext,
    )
    ssl = map_openssl_listing(
        S.sel(
            b,
            ssl_uri.alias("uri"),
            S.col("size").alias("size"),
            S.lit("2018-09-11 13:01:22").alias("last_modified_date"),
        )
    ).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS namespace",
        "version",
        "purl",
        "description",
        "homepage_url",
        "download_url",
        "bug_tracking_url",
        "code_view_url",
        "vcs_url",
        "extracted_license_statement",
        "CAST(NULL AS string) AS keywords",
        "size",
        "release_date",
        "copyright",
        "datasource_id",
    )
    return fd.unionByName(_gc_align(gc2)).unionByName(_gc_align(gc1)).unionByName(ssl)
