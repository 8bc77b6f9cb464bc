"""Miner-mapper queries, batch 5: yum/RPM repodata
(sources/rpm_repodata.py — reference minecode/miners/repomd.py +
repodata.py + repodata_rpms.py). Fixtures: ecosystem-shaped XML
documents built with column concat from the `part_packages` rows, parsed
by the real mappers, expected rows computed directly by the oracle from
the generating index.

Each part row is one yum repo carrying a repomd.xml plus the three
repodata subfiles with TWO packages: a full one (epoch attr, release,
relative href, format block, files/dirs/changelogs) and a minimal "lib"
one (no epoch/release, empty format, href exercising all three
build_rpm_download_url branches by k%3: absolute, leading-slash,
relative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.rpm_repodata import map_repomd_packages


@query(
    "x_rpm_repodata_map",
    oracle=f"""
    WITH base AS (
      SELECT *, 'https://mirror.ex/repo' || CAST(k AS VARCHAR) AS base_url,
             CAST(k % 2 AS VARCHAR) AS e
      FROM ({PART_PACKAGES_SQL})
    )
    SELECT k AS repo_id, 'rpm' AS type, name, 'x86_64' AS arch,
           e || ':' || ver || '-1.el9' AS version,
           'pkg:rpm/' || name || '@' || e || ':' || ver || '-1.el9' AS purl,
           cs AS pkgid,
           'Sum ' || name AS summary,
           'RPM package ' || name AS description,
           'https://ex.dev/' || name AS homepage_url,
           'MIT' AS extracted_license_statement,
           'Ex Corp' AS vendor,
           'Development/Libraries' AS rpm_group,
           'build.ex.dev' AS buildhost,
           name || '-' || ver || '-1.el9.src.rpm' AS sourcerpm,
           base_url || '/Packages/' || name || '-' || ver || '.rpm'
             AS download_url,
           size AS pkg_size, size * 3 AS installed_size,
           CAST(1440 AS BIGINT) AS build_time,
           2 AS file_count, 1 AS dir_count, 2 AS changelog_count,
           2 AS requires_count, 1 AS provides_count,
           'repodata/' || cs || '-primary.xml.gz' AS primary_href
    FROM base
    UNION ALL
    SELECT k, 'rpm', 'lib' || name, 'noarch', '0.0.1',
           'pkg:rpm/lib' || name || '@0.0.1', cs2,
           NULL, 'Lib variant', NULL, NULL, NULL, NULL, NULL, NULL,
           CASE WHEN k % 3 = 0
                  THEN 'https://other.mirror/x/lib' || name || '.rpm'
                WHEN k % 3 = 1
                  THEN base_url || '/pool1/lib' || name || '.rpm'
                ELSE base_url || '/pool2/lib' || name || '.rpm' END,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           1, 0, 0, 0, 0,
           'repodata/' || cs || '-primary.xml.gz'
    FROM base
    """,
)
def x_rpm_repodata_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yum repodata extraction (repomd.py:92-109 + repodata.py parsers):
    repomd.xml href index, primary/filelists/other parse, per-(repo,
    pkgid) combine, EVR version string (epoch "0" kept — truthy string in
    packagedcode EVR.to_string), download_url absolute/leading-slash/
    relative branches."""
    k = S.col("k")
    b = S.sel(
        part_packages(spark, sf_dir),
        "*",
        S.concat("https://mirror.ex/repo", k.cast("string")).alias("base_url"),
        (k % 2).cast("string").alias("e"),
    )
    name, ver, cs, cs2, e, k = (
        S.col("name"),
        S.col("ver"),
        S.col("cs"),
        S.col("cs2"),
        S.col("e"),
        S.col("k"),
    )
    size_s = S.col("size").cast("string")

    href_b = (
        S.when(k % 3 == 0, S.concat("https://other.mirror/x/lib", name, ".rpm"))
        .when(k % 3 == 1, S.concat("/pool1/lib", name, ".rpm"))
        .otherwise(S.concat("pool2/lib", name, ".rpm"))
    )
    ver_a_attr = S.concat(
        '<version epoch="', e, '" ver="', ver, '" rel="1.el9"/>'
    )
    primary = S.concat(
        S.lit(
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<metadata xmlns="http://linux.duke.edu/metadata/common" '
            'xmlns:rpm="http://linux.duke.edu/metadata/rpm" packages="2">\n'
            '<package type="rpm"><name>'
        ),
        name,
        S.lit("</name><arch>x86_64</arch>"),
        ver_a_attr,
        S.lit('<checksum type="sha256" pkgid="YES">'), cs,
        S.lit("</checksum><summary>Sum "), name,
        S.lit("</summary><description>RPM package "), name,
        S.lit("</description><packager>Ann</packager><url>https://ex.dev/"), name,
        S.lit('</url><time file="1449" build="1440"/><size package="'), size_s,
        S.lit('" installed="'), (S.col("size") * 3).cast("string"),
        S.lit('" archive="0"/><location href="Packages/'), name,
        S.lit("-"), ver,
        S.lit(
            '.rpm"/><format><rpm:license>MIT</rpm:license>'
            "<rpm:vendor>Ex Corp</rpm:vendor>"
            "<rpm:group>Development/Libraries</rpm:group>"
            "<rpm:buildhost>build.ex.dev</rpm:buildhost><rpm:sourcerpm>"
        ),
        name, S.lit("-"), ver,
        S.lit(
            '-1.el9.src.rpm</rpm:sourcerpm><rpm:header-range start="280" end="1500"/>'
            '<rpm:provides><rpm:entry name="'
        ),
        name,
        S.lit(
            '"/></rpm:provides><rpm:requires><rpm:entry name="glibc"/>'
            '<rpm:entry name="openssl"/></rpm:requires></format></package>\n'
            '<package type="rpm"><name>lib'
        ),
        name,
        S.lit('</name><arch>noarch</arch><version ver="0.0.1"/>'),
        S.lit('<checksum type="sha256" pkgid="YES">'), cs2,
        S.lit('</checksum><description>Lib variant</description><location href="'),
        href_b,
        S.lit('"/><format></format></package>\n</metadata>'),
    )
    filelists = S.concat(
        S.lit(
            '<filelists xmlns="http://linux.duke.edu/metadata/filelists" '
            'packages="2">\n<package pkgid="'
        ),
        cs,
        S.lit('" name="'), name,
        S.lit('" arch="x86_64">'),
        ver_a_attr,
        S.lit("<file>/usr/bin/"), name,
        S.lit("</file><file>/usr/share/doc/"), name,
        S.lit('</file><file type="dir">/usr/share/'), name,
        S.lit('</file></package>\n<package pkgid="'), cs2,
        S.lit('" name="lib'), name,
        S.lit('" arch="noarch"><version ver="0.0.1"/><file>/usr/lib/lib'), name,
        S.lit(".so</file></package>\n</filelists>"),
    )
    other = S.concat(
        S.lit(
            '<otherdata xmlns="http://linux.duke.edu/metadata/other" '
            'packages="2">\n<package pkgid="'
        ),
        cs,
        S.lit('" name="'), name,
        S.lit('" arch="x86_64">'),
        ver_a_attr,
        S.lit(
            '<changelog author="Ann" date="100">fix a</changelog>'
            '<changelog author="Bob" date="200">fix b</changelog>'
            '</package>\n<package pkgid="'
        ),
        cs2,
        S.lit('" name="lib'), name,
        S.lit('" arch="noarch"><version ver="0.0.1"/></package>\n</otherdata>'),
    )
    repomd = S.concat(
        S.lit(
            '<repomd xmlns="http://linux.duke.edu/metadata/repo">'
            '<data type="primary"><checksum type="sha256">aa</checksum>'
            '<location href="repodata/'
        ),
        cs,
        S.lit(
            '-primary.xml.gz"/><timestamp>1449</timestamp></data>'
            '<data type="filelists"><location href="repodata/'
        ),
        cs,
        S.lit(
            '-filelists.xml.gz"/></data>'
            '<data type="other"><location href="repodata/'
        ),
        cs,
        S.lit('-other.xml.gz"/></data></repomd>'),
    )
    repos = S.sel(
        b,
        S.col("k").alias("repo_id"),
        S.col("base_url").alias("base_url"),
        repomd.alias("repomd_xml"),
        primary.alias("primary_xml"),
        filelists.alias("filelists_xml"),
        other.alias("other_xml"),
    )
    return map_repomd_packages(repos).drop("filelists_href", "other_href")
