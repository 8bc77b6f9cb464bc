"""Registry-API collect-family queries (sources/collectors4.py —
reference minecode/collectors/{pypi,cargo,rubygems,nuget,npm}.py).
Fixtures: ecosystem-shaped registry documents built with column concat
from the `part_packages` rows, run through the real
collect operators, expected rows recomputed by the oracle from the
generating index.

Shapes exercised:
- pypi: version FAN-OUT of versionless purls (2 known versions), the
  per-download explode (sdist + wheel per release), extension-based
  package_content classification, does_not_exist / no_versions ladder.
- cargo: name-keyed crate doc carrying every version, pinned-version
  filter, per-version purls.
- gem: v1 fan-out + v2 (name, version) doc join.
- nuget: LOWERCASED registry key vs uppercase purl name, catalogEntry
  iteration, pinned-version keep.
- npm: scoped-vs-unscoped API URL building, silent versionless skip
  surfaced as missing_version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.functions.sqlexpr import sql_concat
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.collectors4 import (
    map_cargo_collect,
    map_gem_collect,
    map_npm_collect,
    map_nuget_collect,
    map_pypi_collect,
)

@query(
    "x_pypi_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    rel AS (  -- one row per (request-kind, resolved version) with a doc
      SELECT k, name, ver AS v FROM base WHERE k % 4 = 0
      UNION ALL SELECT k, name, ver2 FROM base WHERE k % 4 = 0
      UNION ALL SELECT k, name, ver FROM base WHERE k % 4 = 1
    ),
    files AS (
      SELECT k, name, v,
             CASE WHEN f = 'sdist'
                  THEN 'https://files.ex/' || name || '-' || v || '.tar.gz'
                  ELSE 'https://files.ex/' || name || '-' || v || '-py3.whl'
                  END AS download_url,
             CASE WHEN f = 'sdist'
                  THEN name || '-' || v || '.tar.gz'
                  ELSE name || '-' || v || '-py3.whl' END AS fname,
             f
      FROM rel CROSS JOIN (VALUES ('sdist'), ('bdist_wheel')) t(f)
    )
    SELECT 'pkg:pypi/' || name || '@' || v || '?file_name=' || fname AS purl,
           'collected' AS status, 'pypi' AS type, name, v AS version,
           download_url,
           CASE WHEN k % 2 = 0 THEN 'MIT'
                ELSE 'License :: OSI Approved :: BSD License' END
             AS declared_license,
           md5(name || v) AS sha256,
           CASE WHEN f = 'sdist' THEN 'source_archive' ELSE 'binary' END
             AS package_content,
           'pypi_api_metadata' AS datasource_id
    FROM files
    UNION ALL
    SELECT 'pkg:pypi/' || name || '@' || ver, 'does_not_exist',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 4 = 2
    UNION ALL
    SELECT 'pkg:pypi/' || name, 'no_versions',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 4 = 3
    """,
)
def x_pypi_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PyPI collect flow (collectors/pypi.py:29-131): versionless purls
    fan out over get_all_package_version, each (name, version) JSON maps
    one row per download, downloads classify source_archive/binary by
    extension; missing docs and empty version lists surface as status
    rows."""
    b = part_packages(spark, sf_dir)
    requests = (
        b.filter("k % 4 = 0 OR k % 4 = 3").selectExpr(
            "concat('pkg:pypi/', name) AS purl",
            "name",
            "CAST(NULL AS STRING) AS version",
        )
    ).unionByName(
        b.filter("k % 4 = 1 OR k % 4 = 2").selectExpr(
            "concat('pkg:pypi/', name, '@', ver) AS purl",
            "name",
            "ver AS version",
        )
    )
    versions = b.filter("k % 4 = 0").selectExpr("name", "ver AS version")
    versions = versions.unionByName(
        b.filter("k % 4 = 0").selectExpr("name", "ver2 AS version")
    )

    def _doc(v: str) -> str:
        lic = "`CASE WHEN k % 2 = 0 THEN '\"MIT\"' ELSE '\"UNKNOWN\"' END"
        return sql_concat(
            '{"info":{"name":"', "`name",
            '","version":"', f"`{v}",
            '","license":', lic,
            ',"classifiers":["License :: OSI Approved :: BSD License"]},',
            '"urls":[',
            '{"packagetype":"sdist","filename":"', "`name", "-", f"`{v}",
            '.tar.gz","url":"https://files.ex/', "`name", "-", f"`{v}",
            '.tar.gz","digests":{"sha256":"', f"`md5(concat(name, {v}))",
            '"}},',
            '{"packagetype":"bdist_wheel","filename":"', "`name", "-", f"`{v}",
            '-py3.whl","url":"https://files.ex/', "`name", "-", f"`{v}",
            '-py3.whl","digests":{"sha256":"', f"`md5(concat(name, {v}))",
            '"}}]}',
        )

    docs = (
        b.filter("k % 4 = 0")
        .selectExpr("name", "ver AS version", f"{_doc('ver')} AS doc")
        .unionByName(
            b.filter("k % 4 = 0").selectExpr(
                "name", "ver2 AS version", f"{_doc('ver2')} AS doc"
            )
        )
        .unionByName(
            b.filter("k % 4 = 1").selectExpr(
                "name", "ver AS version", f"{_doc('ver')} AS doc"
            )
        )
    )
    return map_pypi_collect(requests, docs, versions)


@query(
    "x_cargo_gem_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    cargo_rel AS (
      SELECT k, name, ver AS v FROM base WHERE k % 3 = 0
      UNION ALL SELECT k, name, ver2 FROM base WHERE k % 3 = 0
      UNION ALL SELECT k, name, ver FROM base WHERE k % 3 = 1
    ),
    gem_rel AS (
      SELECT k, name, ver AS v FROM base WHERE k % 3 IN (0, 1)
    )
    SELECT 'pkg:cargo/' || name || '@' || v AS purl, 'collected' AS status,
           'cargo' AS type, name, v AS version,
           'https://crates.io/api/v1/crates/' || name || '/' || v
             || '/download' AS download_url,
           'Apache-2.0' AS declared_license,
           md5(name || v) AS sha256,
           'source_archive' AS package_content,
           'cargo_api_metadata' AS datasource_id
    FROM cargo_rel
    UNION ALL
    SELECT 'pkg:cargo/' || name || '@' || ver, 'does_not_exist',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 3 = 2
    UNION ALL
    SELECT 'pkg:gem/' || name || '@' || v, 'collected', 'gem', name, v,
           'https://rubygems.org/gems/' || name || '-' || v || '.gem',
           'MIT; BSD', md5(v || name), 'source_archive', 'gem_api_metadata'
    FROM gem_rel
    UNION ALL
    SELECT 'pkg:gem/' || name, 'no_versions',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 3 = 2
    """,
)
def x_cargo_gem_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cargo + RubyGems collect flows (collectors/cargo.py:24-59,
    collectors/rubygems.py:24-88): the crate doc maps every version
    unless the purl pins one; gem purls fan out over the v1 version
    list then join the v2 document; misses surface as status rows."""
    b = part_packages(spark, sf_dir)

    cargo_requests = (
        b.filter("k % 3 = 0").selectExpr(
            "concat('pkg:cargo/', name) AS purl",
            "name",
            "CAST(NULL AS STRING) AS version",
        )
    ).unionByName(
        b.filter("k % 3 = 1 OR k % 3 = 2").selectExpr(
            "concat('pkg:cargo/', name, '@', ver) AS purl",
            "name",
            "ver AS version",
        )
    )

    def _cver(v: str) -> str:
        return sql_concat(
            '{"crate":"', "`name",
            '","num":"', f"`{v}",
            '","license":"Apache-2.0","dl_path":"/api/v1/crates/',
            "`name", "/", f"`{v}",
            '/download","checksum":"', f"`md5(concat(name, {v}))",
            '","published_by":{"name":"Ann"}}',
        )

    cargo_doc = sql_concat(
        '{"crate":{"keywords":["k1"]},"versions":[',
        f"`{_cver('ver')}", ",", f"`{_cver('ver2')}",
        "]}",
    )
    cargo_docs = b.filter("k % 3 = 0 OR k % 3 = 1").selectExpr(
        "name", f"{cargo_doc} AS doc"
    )
    cargo = map_cargo_collect(cargo_requests, cargo_docs)

    gem_requests = (
        b.filter("k % 3 = 0").selectExpr(
            "concat('pkg:gem/', name, '@', ver) AS purl",
            "name",
            "ver AS version",
        )
    ).unionByName(
        b.filter("k % 3 = 1 OR k % 3 = 2").selectExpr(
            "concat('pkg:gem/', name) AS purl",
            "name",
            "CAST(NULL AS STRING) AS version",
        )
    )
    gem_versions = b.filter("k % 3 = 1").selectExpr("name", "ver AS version")
    gem_doc = sql_concat(
        '{"name":"', "`name",
        '","version":"', "`ver",
        '","licenses":["MIT","BSD"],"gem_uri":"https://rubygems.org/gems/',
        "`name", "-", "`ver",
        '.gem","sha":"', "`md5(concat(ver, name))", '"}',
    )
    gem_docs = b.filter("k % 3 = 0 OR k % 3 = 1").selectExpr(
        "name", "ver AS version", f"{gem_doc} AS doc"
    )
    gem = map_gem_collect(gem_requests, gem_docs, gem_versions)
    return cargo.unionByName(gem)


@query(
    "x_nuget_npm_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    nuget_rel AS (
      SELECT k, name, ver AS v FROM base WHERE k % 3 = 0
      UNION ALL SELECT k, name, ver2 FROM base WHERE k % 3 = 0
      UNION ALL SELECT k, name, ver FROM base WHERE k % 3 = 1
    )
    SELECT CASE WHEN k % 3 = 1
                THEN 'pkg:nuget/' || upper(name) || '@' || v
                ELSE 'pkg:nuget/' || upper(name) END AS purl,
           'collected' AS status, 'nuget' AS type,
           upper(name) AS name, v AS version,
           'https://api.nuget.org/packages/' || name || '.' || v || '.nupkg'
             AS download_url,
           NULL AS api_url,
           'source_archive' AS package_content
    FROM nuget_rel
    UNION ALL
    SELECT 'pkg:nuget/' || upper(name) || '@' || ver, 'does_not_exist',
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 3 = 2
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, 'collected', 'npm',
           name, ver,
           'https://t.ex/' || name || '-' || ver || '.tgz',
           'https://registry.npmjs.org/' || name || '/' || ver,
           'source_archive'
    FROM base WHERE k % 4 = 0
    UNION ALL
    SELECT 'pkg:npm/%40org-' || name || '/' || name || '@' || ver,
           'collected', 'npm',
           '@org-' || name || '/' || name, ver,
           'https://t.ex/' || name || '-' || ver || '.tgz',
           'https://registry.npmjs.org/@org-' || name || '%2f' || name,
           'source_archive'
    FROM base WHERE k % 4 = 1
    UNION ALL
    SELECT 'pkg:npm/' || name || '@' || ver, 'does_not_exist',
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 4 = 2
    UNION ALL
    SELECT 'pkg:npm/' || name, 'missing_version',
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM base WHERE k % 4 = 3
    """,
)
def x_nuget_npm_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NuGet + npm collect flows (collectors/nuget.py:17-62,
    collectors/npm.py:24-105): the nuget registration index is fetched
    by lowercased name and every catalogEntry maps unless the purl pins
    a version; npm builds the scoped/unscoped API URL and silently
    skips versionless purls (surfaced as missing_version)."""
    b = part_packages(spark, sf_dir)

    nuget_requests = (
        b.filter("k % 3 = 0").selectExpr(
            "concat('pkg:nuget/', upper(name)) AS purl",
            "upper(name) AS name",
            "CAST(NULL AS STRING) AS version",
        )
    ).unionByName(
        b.filter("k % 3 = 1 OR k % 3 = 2").selectExpr(
            "concat('pkg:nuget/', upper(name), '@', ver) AS purl",
            "upper(name) AS name",
            "ver AS version",
        )
    )

    def _entry(v: str) -> str:
        return sql_concat(
            '{"id":"', "`upper(name)",
            '","version":"', f"`{v}",
            '","packageContent":"https://api.nuget.org/packages/',
            "`name", ".", f"`{v}", '.nupkg"}',
        )

    nuget_index = b.filter("k % 3 = 0 OR k % 3 = 1").selectExpr(
        "name AS name_lc",
        f"array({_entry('ver')}, {_entry('ver2')}) AS entries",
    )
    # pinned requests (k%3=1) keep only the matching entry; unpinned map both
    nuget = map_nuget_collect(nuget_requests, nuget_index).selectExpr(
        "purl",
        "status",
        "type",
        "name",
        "version",
        "download_url",
        "CAST(NULL AS STRING) AS api_url",
        "package_content",
    )

    npm_requests = (
        b.filter("k % 4 = 0").selectExpr(
            "concat('pkg:npm/', name, '@', ver) AS purl",
            "CAST(NULL AS STRING) AS namespace",
            "name",
            "ver AS version",
        )
        .unionByName(
            b.filter("k % 4 = 1").selectExpr(
                "concat('pkg:npm/%40org-', name, '/', name, '@', ver)"
                " AS purl",
                "concat('@org-', name) AS namespace",
                "name",
                "ver AS version",
            )
        )
        .unionByName(
            b.filter("k % 4 = 2").selectExpr(
                "concat('pkg:npm/', name, '@', ver) AS purl",
                "CAST(NULL AS STRING) AS namespace",
                "name",
                "ver AS version",
            )
        )
        .unionByName(
            b.filter("k % 4 = 3").selectExpr(
                "concat('pkg:npm/', name) AS purl",
                "CAST(NULL AS STRING) AS namespace",
                "name",
                "CAST(NULL AS STRING) AS version",
            )
        )
    )
    full_name = (
        "CASE WHEN k % 4 = 1 THEN concat(concat('@org-', name), '/', name)"
        " ELSE name END"
    )
    npm_doc = sql_concat(
        '{"name":"', f"`{full_name}",
        '","dist-tags":{"latest":"', "`ver",
        '"},"versions":{"', "`ver",
        '":{"version":"', "`ver",
        '","license":"MIT","dist":{"tarball":"https://t.ex/', "`name",
        "-", "`ver", '.tgz","shasum":"', "`md5(name)",
        '"}}}}',
    )
    npm_docs = b.filter("k % 4 = 0 OR k % 4 = 1").selectExpr(
        f"{full_name} AS name", f"{npm_doc} AS doc"
    )
    npm = map_npm_collect(npm_requests, npm_docs).select(
        "purl",
        "status",
        "type",
        "name",
        "version",
        "download_url",
        "api_url",
        "package_content",
    )
    return nuget.unionByName(npm)
