"""Miner-mapper queries, batch 2: cargo / gem / composer / nuget / golang
(sources/miners2.py). Fixtures: ecosystem-shaped JSON documents built
with column concat from the `part_packages` rows, mapped by the real
from_json mappers, expected rows computed directly by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners2 import (
    map_cargo_docs,
    map_gem_docs,
    map_golang_paths,
    map_nuget_docs,
    map_packagist_docs,
)

@query(
    "x_cargo_gem_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'cargo' AS type, name, ver AS version,
           'pkg:cargo/' || name || '@' || ver AS purl,
           'Crate ' || name AS description,
           CASE WHEN k % 3 = 0 THEN 'MIT' END AS declared_license,
           CASE WHEN k % 2 = 0 THEN 'Alice' ELSE 'bob' END AS author,
           'https://crates.io/api/v1/crates/' || name || '/' || ver
             || '/download' AS download_url,
           size, cs AS sha256
    FROM base
    UNION ALL
    SELECT 'gem', name, ver, 'pkg:gem/' || name || '@' || ver,
           'Gem ' || name, 'MIT; Ruby', 'A, B',
           'https://rubygems.org/gems/' || name || '-' || ver || '.gem',
           NULL, cs
    FROM base
    """,
)
def x_cargo_gem_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crates.io + RubyGems v2 documents: version explode with missing-
    dl_path drop, UNKNOWN-license null, published_by name/login fallback,
    licenses-array join."""
    b = part_packages(spark, sf_dir)
    name, ver, cs = S.col("name"), S.col("ver"), S.col("cs")
    lic = S.when(S.col("k") % 3 == 0, "MIT").when(S.col("k") % 3 == 1, "UNKNOWN").otherwise(
        "UNKNOWN"
    )
    publisher = S.when(
        S.col("k") % 2 == 0, '{"name":"Alice","login":"alice"}'
    ).otherwise('{"login":"bob"}')
    cargo_doc = S.concat(
        '{"crate":{"keywords":["cli","data"]},"versions":[{"crate":"', name,
        '","num":"', ver,
        '","description":"Crate ', name,
        '","homepage":"https://ex.dev/', name,
        '","repository":"https://github.com/ex/', name,
        '","license":"', lic,
        '","dl_path":"/api/v1/crates/', name, "/", ver,
        '/download","crate_size":', S.col("size").cast("string"),
        ',"checksum":"', cs,
        '","published_by":', publisher,
        '},{"crate":"', name, '","num":"0.0.1","dl_path":null}]}',
    )
    gem_doc = S.concat(
        '{"name":"', name, '","version":"', ver,
        '","description":"Gem ', name,
        '","homepage_uri":"https://ex.dev/', name,
        '","project_uri":"https://rubygems.org/gems/', name,
        '","version_created_at":"2020-01-01T00:00:00Z",',
        '"licenses":["MIT","Ruby"],"authors":"A, B",',
        '"gem_uri":"https://rubygems.org/gems/', name, "-", ver,
        '.gem","sha":"', cs, '"}',
    )
    cargo = map_cargo_docs(S.sel(b, cargo_doc.alias("doc"))).selectExpr(
        "type", "name", "version", "purl", "description", "declared_license",
        "author", "download_url", "size", "sha256",
    )
    gem = map_gem_docs(S.sel(b, gem_doc.alias("doc"))).selectExpr(
        "type", "name", "version", "purl", "description", "declared_license",
        "author",
        "download_url",
        "CAST(NULL AS long) AS size",
        "sha256",
    )
    return cargo.unionByName(gem)


@query(
    "x_packagist_nuget_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'composer' AS type, name, ver AS version,
           'pkg:composer/' || name || '@' || ver AS purl,
           'Pkg ' || name AS description,
           'PHP' AS primary_language,
           'https://ex.dev/' || name AS homepage_url,
           'git+https://github.com/ex/' || name || '.git' AS vcs_url,
           'https://dist.example/' || name || '-' || ver || '.zip' AS download_url,
           'BSD-3-Clause; MIT' AS declared_license
    FROM base
    UNION ALL
    SELECT 'composer', name, '2.0.0-beta', 'pkg:composer/' || name || '@2.0.0-beta',
           NULL, 'PHP', NULL, NULL,
           'https://dist.example/' || name || '-beta.zip', NULL
    FROM base
    UNION ALL
    SELECT 'nuget', name, ver, 'pkg:nuget/' || name || '@' || ver,
           CASE WHEN k % 5 = 0 THEN 'Desc ' || name
                WHEN k % 2 = 0 THEN 'Sum ' || name
                ELSE 'Sum ' || name || chr(10) || 'Desc ' || name END,
           NULL, 'https://proj.example/' || name, NULL,
           'https://api.nuget.org/pkg/' || name || '.' || ver || '.nupkg',
           'https://lic.example/' || name
    FROM base
    """,
)
def x_packagist_nuget_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packagist version-map explode (git-source vcs_url, license dedup
    sort, empty-license null) + NuGet catalog entries (summary/description
    join rule, comma-split authors checked via the joined scalar)."""
    b = part_packages(spark, sf_dir)
    name, ver = S.col("name"), S.col("ver")
    pk_doc = S.concat(
        '{"package":{"language":"PHP","versions":{"', ver,
        '":{"name":"', name, '","version":"', ver,
        '","description":"Pkg ', name,
        '","homepage":"https://ex.dev/', name,
        '","source":{"type":"git","url":"https://github.com/ex/', name,
        '.git"},"dist":{"url":"https://dist.example/', name, "-", ver,
        '.zip","shasum":"abc"},"license":["MIT","BSD-3-Clause","MIT"]},',
        '"2.0.0-beta":{"name":"', name,
        '","version":"2.0.0-beta","source":{"type":"svn","url":"x"},',
        '"dist":{"url":"https://dist.example/', name,
        '-beta.zip","shasum":null},"license":[]}}}}',
    )
    k = S.col("k")
    summary = S.concat("Sum ", name)
    # k%5==0 rows omit the summary entirely (null summary + present
    # description must keep the description, per the reference)
    sum_part = S.when(
        k % 5 != 0, S.concat('"summary":"', summary, '",')
    ).otherwise("")
    long_desc = S.when((k % 2 == 0) & (k % 5 != 0), summary).otherwise(
        S.concat("Desc ", name)
    )
    ng_doc = S.concat(
        '{"id":"', name, '","version":"', ver,
        '",', sum_part,
        '"description":"', long_desc,
        '","licenseUrl":"https://lic.example/', name,
        '","copyright":"(c) ex","authors":"A1, A2","tags":["t1"],',
        '"projectUrl":"https://proj.example/', name,
        '","packageContent":"https://api.nuget.org/pkg/', name, ".", ver,
        '.nupkg"}',
    )
    cols = [
        "type", "name", "version", "purl", "description", "primary_language",
        "homepage_url", "vcs_url", "download_url", "declared_license",
    ]
    composer = map_packagist_docs(S.sel(b, pk_doc.alias("doc"))).selectExpr(*cols)
    nuget = map_nuget_docs(S.sel(b, ng_doc.alias("doc"))).selectExpr(
        "type", "name", "version", "purl", "description",
        "CAST(NULL AS string) AS primary_language",
        "homepage_url",
        "CAST(NULL AS string) AS vcs_url",
        "download_url", "declared_license",
    )
    return composer.unionByName(nuget)


@query(
    "x_golang_path_parse",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'golang' AS type,
           CASE
             WHEN k % 6 = 5 THEN NULL
             WHEN k % 3 = 0 THEN 'github.com/owner' || CAST(k AS VARCHAR)
             WHEN k % 3 = 1 THEN 'gitlab.com/grp' || CAST(k AS VARCHAR)
             ELSE 'example.org/lib' || CAST(k AS VARCHAR)
           END AS namespace,
           CASE
             WHEN k % 6 = 5 THEN 'localpkg' || CAST(k AS VARCHAR)
             WHEN k % 3 = 0 THEN 'repo' || CAST(k AS VARCHAR)
             WHEN k % 3 = 1 THEN 'proj' || CAST(k AS VARCHAR)
             ELSE 'mod'
           END AS name,
           CASE
             WHEN k % 6 = 5 THEN 'pkg:golang/localpkg' || CAST(k AS VARCHAR)
             WHEN k % 3 = 0 THEN 'pkg:golang/github.com/owner' || CAST(k AS VARCHAR)
               || '/repo' || CAST(k AS VARCHAR) || '?vcs_repository=https://github.com/owner'
               || CAST(k AS VARCHAR) || '/repo' || CAST(k AS VARCHAR)
             WHEN k % 3 = 1 THEN 'pkg:golang/gitlab.com/grp' || CAST(k AS VARCHAR)
               || '/proj' || CAST(k AS VARCHAR) || '?vcs_repository=https://gitlab.com/grp'
               || CAST(k AS VARCHAR) || '/proj' || CAST(k AS VARCHAR)
             ELSE 'pkg:golang/example.org/lib' || CAST(k AS VARCHAR) || '/mod'
           END AS purl,
           'Go' AS primary_language,
           CASE
             WHEN k % 6 = 5 THEN 'https://localpkg' || CAST(k AS VARCHAR)
             WHEN k % 3 = 0 THEN 'https://github.com/owner' || CAST(k AS VARCHAR)
               || '/repo' || CAST(k AS VARCHAR)
             WHEN k % 3 = 1 THEN 'https://gitlab.com/grp' || CAST(k AS VARCHAR)
               || '/proj' || CAST(k AS VARCHAR)
             ELSE 'https://example.org/lib' || CAST(k AS VARCHAR) || '/mod'
           END AS homepage_url,
           CASE
             WHEN k % 6 = 5 THEN NULL
             WHEN k % 3 = 0 THEN 'git+https://github.com/owner' || CAST(k AS VARCHAR)
               || '/repo' || CAST(k AS VARCHAR)
             WHEN k % 3 = 1 THEN 'https://gitlab.com/grp' || CAST(k AS VARCHAR)
               || '/proj' || CAST(k AS VARCHAR)
           END AS vcs_url
    FROM base
    """,
)
def x_golang_path_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Go import paths through parse_package_path semantics: well-known
    hosts trim to host/owner/repo with a vcs_repository purl qualifier and
    git+ vcs_url for github; unknown hosts keep the full path and gain no
    qualifier."""
    b = part_packages(spark, sf_dir)
    k, ks = S.col("k"), S.col("k").cast("string")
    path = (
        S.when(k % 6 == 5, S.concat("localpkg", ks))
        .when(k % 3 == 0, S.concat("github.com/owner", ks, "/repo", ks, "/pkg/sub"))
        .when(k % 3 == 1, S.concat("gitlab.com/grp", ks, "/proj", ks))
        .otherwise(S.concat("example.org/lib", ks, "/mod"))
    )
    return map_golang_paths(S.sel(b, path.alias("path"))).drop("datasource_id")
