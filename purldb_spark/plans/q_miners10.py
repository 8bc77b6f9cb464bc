"""Miner-mapper queries, batch 10: the round-5 reference-fixture-parity
mappers get driver-oracle coverage — gemspec YAML, CRAN package-page HTML,
maven-metadata.xml, and the debian ls-lR visitor. Fixtures: wire-format
documents are SYNTHESIZED from the `part_packages` rows, pushed through the real parser, and the DuckDB
oracle computes the expected values directly from the same source columns
(so the Spark side must survive the full serialize -> parse round trip to
match)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.collectors import maven_metadata_uris
from purldb_spark.sources.listings import parse_lslr
from purldb_spark.sources.lslr_debian import debian_lslr_uris
from purldb_spark.sources.miners2 import map_gemspec_yaml_docs
from purldb_spark.sources.miners3 import map_cran_html_docs

@query(
    "x_gemspec_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'gem' AS type, name, ver AS version,
           'pkg:gem/' || name || '@' || ver AS purl,
           'Gem ' || name AS description,
           'https://example.org/' || name AS homepage_url,
           CASE WHEN k % 2 = 0 THEN 'MIT' ELSE 'MIT|Apache-2.0' END
             AS extracted_license_statement,
           'Ann Dev|Bo Dev' AS authors,
           '2021-0' || CAST(k % 9 + 1 AS VARCHAR) || '-15' AS release_date,
           'https://rubygems.org/downloads/' || name || '-' || ver || '.gem'
             AS download_url,
           CASE WHEN k % 3 = 0
                THEN 'dep-a|~> 1.0|runtime; dep-b||development'
                ELSE 'dep-a|~> 1.0|runtime' END AS deps
    FROM base
    """,
)
def x_gemspec_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gemspec YAML round trip: serialize a Gem::Specification YAML per
    part row (two authors, one or two licenses, runtime + development
    dependencies with a dropped `>= 0` constraint), parse with
    map_gemspec_yaml_docs, flatten the dependency structs for the hash
    compare."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    lic_block = S.when(k % 2 == 0, "licenses:\n- MIT\n").otherwise(
        "licenses:\n- MIT\n- Apache-2.0\n"
    )
    dep_b = S.when(
        k % 3 == 0,
        "- !ruby/object:Gem::Dependency\n"
        "  name: dep-b\n"
        "  requirement: !ruby/object:Gem::Requirement\n"
        "    requirements:\n"
        '    - - ">="\n'
        "      - !ruby/object:Gem::Version\n"
        "        version: '0'\n"
        "  type: :development\n"
        "  prerelease: false\n",
    ).otherwise("")
    yaml = S.concat(
        "--- !ruby/object:Gem::Specification\nname: ",
        name,
        "\nversion: !ruby/object:Gem::Version\n  version: ",
        ver,
        "\nplatform: ruby\nauthors:\n- Ann Dev\n- Bo Dev\ndate: 2021-0",
        (k % 9 + 1).cast("string"),
        "-15 00:00:00.000000000 Z\ndependencies:\n",
        "- !ruby/object:Gem::Dependency\n"
        "  name: dep-a\n"
        "  requirement: !ruby/object:Gem::Requirement\n"
        "    requirements:\n"
        '    - - "~>"\n'
        "      - !ruby/object:Gem::Version\n"
        "        version: '1.0'\n"
        "  type: :runtime\n"
        "  prerelease: false\n",
        dep_b,
        "description: Gem ",
        name,
        "\nsummary: Gem ",
        name,
        "\nhomepage: https://example.org/",
        name,
        "\n",
        lic_block,
    )
    docs = S.sel(
        b,
        yaml.alias("metadata"),
        S.concat(
            "https://rubygems.org/downloads/", name, "-", ver, ".gem"
        ).alias("download_url"),
    )
    out = map_gemspec_yaml_docs(docs)
    # ArrayType columns are joined to flat strings for the driver's
    # pandas-based hash compare (lists are unhashable there); the oracle
    # emits the same '|'-joined form.
    return out.selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "array_join(extracted_license_statement, '|')"
        " AS extracted_license_statement",
        "array_join(authors, '|') AS authors",
        "release_date",
        "download_url",
        "array_join(transform(dependencies, d -> concat_ws('|', d.purl,"
        " coalesce(d.extracted_requirement, ''), d.scope)), '; ') AS deps",
    )


@query(
    "x_cran_html_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'cran' AS type, name, ver AS version,
           'pkg:cran/' || name || '@' || ver AS purl,
           'R package ' || name AS description,
           'https://example.org/' || name AS homepage_url,
           '../../licenses/GPL-3' AS extracted_license_statement,
           'Ann Dev' AS author,
           'Bo Maint' AS maintainer,
           'bo.maint@example.org' AS maintainer_email,
           '2021-0' || CAST(k % 9 + 1 AS VARCHAR) || '-15' AS release_date,
           'cran_metadata' AS datasource_id,
           dl AS download_url
    FROM base,
         unnest(['https://cloud.r-project.org/src/contrib/' || name || '_'
                   || ver || '.tar.gz',
                 'https://cloud.r-project.org/bin/windows/contrib/4.3/'
                   || name || '_' || ver || '.zip']) AS t(dl)
    """,
)
def x_cran_html_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAN package-page round trip: render the reference's HTML table
    shape per part row (hex-entity-armored maintainer address included),
    parse with map_cran_html_docs — one output row per source/binary
    download link."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    # "bo.maint at example.org" armored as &#xHH; entities like CRAN does
    armored = "".join(f"&#x{ord(c):02x};" for c in "<bo.maint at example.org>")
    html = S.concat(
        "<html><body><h2>",
        name,
        ": pkg</h2>\n<p>R package ",
        name,
        "</p>\n<table>\n<tr>\n<td>Version:</td>\n<td>",
        ver,
        "</td>\n</tr>\n<tr>\n<td>Published:</td>\n<td>2021-0",
        (k % 9 + 1).cast("string"),
        "-15</td>\n</tr>\n<tr>\n<td>Author:</td>\n<td>Ann Dev</td>\n</tr>\n",
        "<tr>\n<td>Maintainer:</td>\n<td>Bo Maint  " + armored + "</td>\n</tr>\n",
        '<tr>\n<td>License:</td>\n<td><a href="../../licenses/GPL-3">'
        "GPL-3</a></td>\n</tr>\n",
        '<tr>\n<td>URL:</td>\n<td><a href="https://example.org/',
        name,
        '">site</a></td>\n</tr>\n</table>\n<table>\n',
        '<tr>\n<td> Package&nbsp;source: </td>\n<td> <a href="../../../src/contrib/',
        name,
        "_",
        ver,
        '.tar.gz">tarball</a> </td>\n</tr>\n',
        '<tr>\n<td> Windows&nbsp;binaries: </td>\n<td> <a href="../../../bin/windows/contrib/4.3/',
        name,
        "_",
        ver,
        '.zip">zip</a> </td>\n</tr>\n</table></body></html>',
    )
    docs = S.sel(
        b,
        html.alias("html"),
        S.concat(
            "https://cloud.r-project.org/web/packages/", name, "/index.html"
        ).alias("uri"),
        S.concat("pkg:cran/", name, "@", ver).alias("purl"),
    )
    out = map_cran_html_docs(docs)
    # flatten the license href array for the driver's hash compare
    return out.selectExpr(
        *[
            "array_join(extracted_license_statement, '|')"
            " AS extracted_license_statement"
            if c == "extracted_license_statement"
            else c
            for c in out.columns
        ]
    )


@query(
    "x_maven_metadata_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    v AS (
      SELECT k, name, ver || '.' || CAST(n AS VARCHAR) AS version
      FROM base, unnest([0, 1]) AS t(n)
    )
    SELECT 'https://repo1.maven.org/maven2/org/example/' || name || '/'
             || version || '/' || name || '-' || version || s.suf AS uri,
           'pkg:maven/org.example/' || name || '@' || version AS package_url,
           s.visited AS visited,
           'https://repo1.maven.org/maven2/org/example/' || name
             || '/maven-metadata.xml' AS source_uri
    FROM v, (VALUES ('.jar', TRUE), ('-sources.jar', TRUE), ('.pom', FALSE))
           AS s(suf, visited)
    """,
)
def x_maven_metadata_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maven-metadata.xml round trip: render the versioning XML (two
    versions per part row), run the visitor — jar + sources scan-only,
    pom to-visit, purls with the dotted groupId."""
    b = part_packages(spark, sf_dir)
    name, ver = S.col("name"), S.col("ver")
    xml = S.concat(
        '<?xml version="1.0" encoding="UTF-8"?>\n<metadata>\n'
        "  <groupId>org.example</groupId>\n  <artifactId>",
        name,
        "</artifactId>\n  <versioning>\n    <versions>\n      <version>",
        ver,
        ".0</version>\n      <version>",
        ver,
        ".1</version>\n    </versions>\n  </versioning>\n</metadata>\n",
    )
    docs = S.sel(
        b,
        xml.alias("xml"),
        S.concat(
            "https://repo1.maven.org/maven2/org/example/",
            name,
            "/maven-metadata.xml",
        ).alias("source_uri"),
    )
    return maven_metadata_uris(docs)


@query(
    "x_debian_lslr_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'http://ftp.debian.org/debian/pool/main/x/' || name || '/' || f.fn
             AS uri,
           f.purl AS package_url, f.fn AS file_name,
           size + f.off AS size,
           '2021-0' || CAST(k % 9 + 1 AS VARCHAR) || '-15' AS date,
           'http://ftp.debian.org/debian/ls-lR.gz' AS source_uri
    FROM base, LATERAL (
      SELECT * FROM (VALUES
        (name || '_' || ver || '_amd64.deb',
         'pkg:deb/debian/' || name || '@' || ver || '?arch=amd64',
         CAST(0 AS BIGINT)),
        (name || '_' || ver || '.dsc', NULL, CAST(1 AS BIGINT))
      ) AS v(fn, purl, off)
    ) f
    """,
)
def x_debian_lslr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debian ls-lR round trip: render a directory block per part row
    (a .deb with an nva-parseable filename, a .dsc, and a non-collectible
    README that must be filtered out), parse with parse_lslr + the
    directory-index visitor."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    month = S.fn(
        "date_format",
        S.fn(
            "to_date",
            S.concat("2021-0", (k % 9 + 1).cast("string"), "-15"),
        ),
        "MMM",
    )
    day_year = S.lit("15  2021")
    listing = S.concat(
        "./pool/main/x/",
        name,
        ":\ntotal 100\n-rw-rw-r-- 2 dak debadmin ",
        S.col("size").cast("string"),
        " ",
        month,
        " ",
        day_year,
        " ",
        name,
        "_",
        ver,
        "_amd64.deb\n-rw-rw-r-- 2 dak debadmin ",
        (S.col("size") + 1).cast("string"),
        " ",
        month,
        " ",
        day_year,
        " ",
        name,
        "_",
        ver,
        ".dsc\n-rw-rw-r-- 2 dak debadmin 12 ",
        month,
        " ",
        day_year,
        " README\n",
    )
    # one synthetic listing file per row -> explode lines with a per-row
    # "file" identity so the window-scoped dir context stays per listing
    lines = S.sel(
        b,
        S.col("k").alias("_doc"),
        S.fn("explode", S.split(listing, "\n")).alias("value"),
    )
    # parse_lslr partitions its window by input_file_name(); for in-memory
    # rows that is empty — substitute the per-row doc id as the file key
    import purldb_spark.sources.listings as L

    entries = L.parse_lslr_with_key(lines, key_col="_doc")
    return debian_lslr_uris(
        entries, "http://ftp.debian.org/debian/ls-lR.gz"
    )
