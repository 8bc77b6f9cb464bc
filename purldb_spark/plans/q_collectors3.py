"""VCS-tag / URL-builder collect-family queries (sources/collectors5.py
— reference minecode/collectors/{github,gitlab,bitbucket,swift,generic,
openssl,gnu,hackage,luarocks,conda,alpine,alpm,nix,dockerhub}.py).
Fixtures built from the `part_packages` rows; expected rows recomputed
by the oracle from the generating index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.collectors5 import (
    alpine_archive_urls,
    alpm_archive_url,
    conda_download_url,
    fetchcode_route_col,
    map_hackage_requests,
    map_luarocks_requests,
    map_swift_requests,
    match_dockerhub_tags,
    nix_license_col,
    nix_route_col,
    parse_bitbucket_tags,
    parse_github_tag_pages,
    parse_gitlab_tags,
)

@query(
    "x_vcs_tags_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'gitlab' AS source, 'grp-' || name AS key, 'v' || ver AS version,
           'Ann ' || name AS author, name || '@ex.com' AS author_email,
           NULL AS download_url
    FROM base
    UNION ALL
    SELECT 'gitlab', 'grp-' || name, 'v' || ver2, '', '', NULL FROM base
    UNION ALL
    SELECT 'bitbucket', 'team-' || name, ver, 'Bob ' || name, NULL, NULL
    FROM base
    UNION ALL
    SELECT 'bitbucket', 'team-' || name, ver2, NULL, NULL, NULL FROM base
    UNION ALL
    SELECT 'github', 'org-' || name, 'v' || ver, NULL, NULL, NULL FROM base
    UNION ALL
    SELECT 'github', 'org-' || name, 'v' || ver2, NULL, NULL, NULL
    FROM base WHERE k % 2 = 0
    UNION ALL
    SELECT 'swift',
           'pkg:swift/github.com/own-' || name || '/' || name || '@v' || ver,
           'v' || ver, NULL, NULL,
           'https://api.github.com/repos/own-' || name || '/' || name
             || '/tarball/v' || ver
    FROM base WHERE k % 2 = 0
    UNION ALL
    SELECT 'swift',
           'pkg:swift/github.com/own-' || name || '/' || name || '@v9.9',
           NULL, NULL, NULL, NULL
    FROM base WHERE k % 2 = 1
    """,
)
def x_vcs_tags_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VCS tag enumeration + swift collect (gitlab.py:21-41,
    bitbucket.py:18-45, github.py:16-42, swift.py:20-55): per-tag
    author/email parsing, paginated page flattening, size-0 pages,
    author-typed entries, swift owner extraction + tag pin with no_tag
    misses (status column folded into version/null shape here: a swift
    miss keeps NULL version)."""
    b = part_packages(spark, sf_dir)

    gitlab = parse_gitlab_tags(
        b.selectExpr(
            "concat('grp-', name) AS subset_path",
            "concat('[{\"name\":\"v', ver,"
            " '\",\"commit\":{\"author_name\":\"Ann ', name,"
            " '\",\"author_email\":\"', name,"
            " '@ex.com\"}},{\"name\":\"v', ver2,"
            " '\",\"commit\":{}}]') AS doc",
        )
    ).selectExpr(
        "'gitlab' AS source",
        "subset_path AS key",
        "version",
        "author",
        "author_email",
        "CAST(NULL AS STRING) AS download_url",
    )

    bb_pages = b.selectExpr(
        "concat('team-', name) AS subset_path",
        "concat('{\"size\":2,\"values\":[{\"name\":\"', ver,"
        " '\",\"target\":{\"author\":{\"type\":\"author\","
        "\"user\":{\"display_name\":\"Bob ', name,"
        " '\"}}}},{\"name\":\"', ver2,"
        " '\",\"target\":{\"author\":{\"type\":\"tag\"}}}],"
        "\"next\":null}') AS doc",
    ).unionByName(
        b.filter("k % 2 = 0").selectExpr(
            "concat('team-', name) AS subset_path",
            "'{\"size\":0,\"values\":[]}' AS doc",
        )
    )
    bitbucket = parse_bitbucket_tags(bb_pages).selectExpr(
        "'bitbucket' AS source",
        "subset_path AS key",
        "version",
        "author",
        "CAST(NULL AS STRING) AS author_email",
        "CAST(NULL AS STRING) AS download_url",
    )

    gh_pages = b.selectExpr(
        "concat('org-', name) AS subset_path",
        "concat('[{\"name\":\"v', ver, '\"},{\"name\":\"\"}]') AS doc",
    ).unionByName(
        b.filter("k % 2 = 0").selectExpr(
            "concat('org-', name) AS subset_path",
            "concat('[{\"name\":\"v', ver2, '\"}]') AS doc",
        )
    )
    github = parse_github_tag_pages(gh_pages).selectExpr(
        "'github' AS source",
        "subset_path AS key",
        "version",
        "CAST(NULL AS STRING) AS author",
        "CAST(NULL AS STRING) AS author_email",
        "CAST(NULL AS STRING) AS download_url",
    )

    sw_ver = (
        "CASE WHEN k % 2 = 0 THEN concat('v', ver) ELSE 'v9.9' END"
    )
    sw_requests = b.selectExpr(
        "concat('pkg:swift/github.com/own-', name, '/', name, '@',"
        f" {sw_ver}) AS purl",
        "concat('github.com/own-', name) AS namespace",
        "name",
        f"{sw_ver} AS version",
    )
    repo_docs = b.selectExpr(
        "concat('own-', name) AS owner",
        "name",
        "concat('{\"full_name\":\"own-', name, '/', name,"
        " '\",\"tags\":[{\"name\":\"v', ver,"
        " '\",\"tarball_url\":\"https://api.github.com/repos/own-', name,"
        " '/', name, '/tarball/v', ver, '\"}]}') AS doc",
    )
    swift = map_swift_requests(sw_requests, repo_docs).selectExpr(
        "'swift' AS source",
        "purl AS key",
        "version",
        "CAST(NULL AS STRING) AS author",
        "CAST(NULL AS STRING) AS author_email",
        "download_url",
    )
    return gitlab.unionByName(bitbucket).unionByName(github).unionByName(swift)


@query(
    "x_fetchcode_distro_route",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:openssl/openssl@' || ver AS purl, 'fetchcode' AS route,
           NULL AS download_url, NULL AS index_url
    FROM base WHERE k % 8 = 0
    UNION ALL
    SELECT 'pkg:openssl/' || name || '@' || ver, NULL, NULL, NULL
    FROM base WHERE k % 8 = 1
    UNION ALL
    SELECT 'pkg:gnu/' || name || '@' || ver, 'fetchcode', NULL, NULL
    FROM base WHERE k % 8 = 2
    UNION ALL
    SELECT 'pkg:gnu/' || name, 'skipped_no_version', NULL, NULL
    FROM base WHERE k % 8 = 3
    UNION ALL
    SELECT 'pkg:generic/busybox@' || ver, 'fetchcode', NULL, NULL
    FROM base WHERE k % 8 = 4
    UNION ALL
    SELECT 'pkg:generic/' || name || '@' || ver, NULL, NULL, NULL
    FROM base WHERE k % 8 = 5
    UNION ALL
    SELECT 'pkg:conda/' || name || '@' || ver, 'conda',
           CASE WHEN k % 2 = 0 THEN
             'https://repo.anaconda.com/pkgs/main/linux-64/' || name || '-'
               || ver || '-py36_0.tar.bz2' END,
           NULL
    FROM base WHERE k % 8 = 6
    UNION ALL
    SELECT 'pkg:alpm/arch/' || name || '@' || ver, 'alpm',
           'https://archive.archlinux.org/packages/' || substring(name, 1, 1)
             || '/' || name || '/' || name || '-' || ver || '-'
             || (CASE WHEN k % 2 = 0 THEN 'x86_64' ELSE 'any' END)
             || '.pkg.tar.zst',
           NULL
    FROM base WHERE k % 8 = 7
    UNION ALL
    SELECT 'pkg:apk/alpine/' || name || '@' || ver, 'alpine',
           CASE WHEN k % 2 = 0 THEN
             'https://dl-cdn.alpinelinux.org/alpine/v3.20/main/x86_64/'
               || name || '-' || ver || '.apk' END,
           CASE WHEN k % 2 = 0 THEN
             'https://dl-cdn.alpinelinux.org/alpine/v3.20/main/x86_64/APKINDEX.tar.gz'
             END
    FROM base WHERE k % 8 = 0
    """,
)
def x_fetchcode_distro_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetchcode route gates + distro archive URL builders
    (openssl.py:14, gnu.py:14-33, generic.py:150-186, conda.py:33,
    alpm.py:20-35, alpine.py:20-45): openssl routes only the openssl
    package itself, gnu skips versionless purls, generic routes the
    supported-name list, conda/alpine URLs are NULL when qualifiers are
    missing, alpm defaults arch to "any"."""
    b = part_packages(spark, sf_dir)
    sk, sname, sver = S.col("k"), S.col("name"), S.col("ver")
    k, name, ver = F.col("k"), F.col("name"), F.col("ver")

    routed_sql = (
        S.when(sk % 8 == 0, S.concat("pkg:openssl/openssl@", sver))
        .when(sk % 8 == 1, S.concat("pkg:openssl/", sname, "@", sver))
        .when(sk % 8 == 2, S.concat("pkg:gnu/", sname, "@", sver))
        .when(sk % 8 == 3, S.concat("pkg:gnu/", sname))
        .when(sk % 8 == 4, S.concat("pkg:generic/busybox@", sver))
        .when(sk % 8 == 5, S.concat("pkg:generic/", sname, "@", sver))
    )
    routed_purl = F.expr(routed_sql.sql)
    fetch = b.filter("k % 8 <= 5").select(
        routed_purl.alias("purl"),
        fetchcode_route_col(routed_purl).alias("route"),
        F.expr("CAST(NULL AS string)").alias("download_url"),
        F.expr("CAST(NULL AS string)").alias("index_url"),
    )

    conda = b.filter("k % 8 = 6").select(
        F.expr(S.concat("pkg:conda/", sname, "@", sver).sql).alias("purl"),
        F.lit("conda").alias("route"),
        conda_download_url(
            name,
            ver,
            F.when(k % 2 == 0, F.lit("py36_0")),
            F.lit("main"),
            F.lit("linux-64"),
            F.lit("tar.bz2"),
        ).alias("download_url"),
        F.expr("CAST(NULL AS string)").alias("index_url"),
    )

    alpm = b.filter("k % 8 = 7").select(
        F.expr(S.concat("pkg:alpm/arch/", sname, "@", sver).sql).alias("purl"),
        F.lit("alpm").alias("route"),
        alpm_archive_url(
            name, ver, F.when(k % 2 == 0, F.lit("x86_64"))
        ).alias("download_url"),
        F.expr("CAST(NULL AS string)").alias("index_url"),
    )

    idx_url, dl_url = alpine_archive_urls(
        name,
        ver,
        F.when(k % 2 == 0, F.lit("x86_64")),
        F.lit("main"),
        F.lit("v3.20"),
    )
    alpine = b.filter("k % 8 = 0").select(
        F.expr(S.concat("pkg:apk/alpine/", sname, "@", sver).sql).alias("purl"),
        F.lit("alpine").alias("route"),
        dl_url,
        idx_url,
    )
    return fetch.unionByName(conda).unionByName(alpm).unionByName(alpine)


@query(
    "x_hackage_luarocks_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:hackage/' || name || '@' || ver AS purl,
           CASE WHEN k % 3 < 2 THEN 'collected'
                ELSE 'version_not_found' END AS status,
           CASE WHEN k % 3 < 2 THEN 'hackage' END AS type,
           CASE WHEN k % 3 < 2 THEN name END AS name,
           CASE WHEN k % 3 < 2 THEN ver END AS version,
           CASE WHEN k % 3 < 2 THEN
             'https://hackage.haskell.org/package/' || name || '-' || ver
               || '/' || name || '-' || ver || '.tar.gz' END AS download_url,
           CASE WHEN k % 3 < 2 THEN
             'https://hackage.haskell.org/package/' || name || '-' || ver END
             AS homepage_url,
           CASE WHEN k % 3 < 2 THEN 'haskell' END AS primary_language
    FROM base
    UNION ALL
    SELECT CASE WHEN k % 2 = 0
                THEN 'pkg:luarocks/own/' || name || '@' || ver
                ELSE 'pkg:luarocks/' || name || '@' || ver END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN 'collected'
                ELSE 'does_not_exist' END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN 'luarocks' END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN name END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN ver END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN
             'https://luarocks.org/manifests/own/' || name || '-' || ver
               || '.src.rock' END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN
             'https://luarocks.org/modules/own/' || name END,
           CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN 'lua' END
    FROM base
    """,
)
def x_hackage_luarocks_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hackage version-membership gate + luarocks purl2url/existence
    gate (hackage.py:20-60, luarocks.py:20-55): hackage rows are pure
    URL templates after the version list admits the purl; luarocks
    requires a namespace to build its manifests URL and a HEAD-200
    existence hit to collect."""
    b = part_packages(spark, sf_dir)
    k, name, ver, ver2 = S.col("k"), S.col("name"), S.col("ver"), S.col("ver2")

    hk_requests = S.sel(
        b,
        S.concat("pkg:hackage/", name, "@", ver).alias("purl"),
        name.alias("name"),
        ver.alias("version"),
    )
    # k%3 in (0,1): the version list contains the pinned version
    hk_versions = S.sel(
        b.filter((k % 3 < 2).sql),
        name.alias("name"), ver.alias("version"),
    ).unionByName(S.sel(b, name.alias("name"), ver2.alias("version")))
    hackage = map_hackage_requests(hk_requests, hk_versions).drop(
        "package_content"
    )

    lr_ns = S.when(k % 2 == 0, "own")
    lr_requests = S.sel(
        b,
        S.concat(
            "pkg:luarocks/",
            S.when(k % 2 == 0, "own/").otherwise(""),
            name, "@", ver,
        ).alias("purl"),
        lr_ns.alias("namespace"),
        name.alias("name"),
        ver.alias("version"),
    )
    # only k%3=0 URLs resolve 200
    existing = S.sel(
        b.filter((k % 3 == 0).sql),
        S.lower(
            S.concat(
                "https://luarocks.org/manifests/own/", name, "-",
                ver, ".src.rock",
            )
        ).alias("url"),
    )
    luarocks = map_luarocks_requests(lr_requests, existing).drop(
        "namespace", "package_content"
    )
    return hackage.unionByName(luarocks)


@query(
    "x_nix_dockerhub_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:nix/nixpkgs/' || name || '@' || ver AS purl,
           CASE WHEN k % 3 = 0 THEN 'devbox' ELSE 'skipped_namespace' END
             AS status,
           CASE WHEN k % 3 = 0 THEN
             CASE WHEN k % 2 = 0 THEN 'MIT' ELSE 'MIT License' END END
             AS license,
           NULL AS version, NULL AS digest
    FROM base
    UNION ALL
    SELECT 'pkg:docker/' || name || '@' || ver, 'collected', NULL, ver,
           'sha256:' || md5(name)
    FROM base WHERE k % 4 = 0
    UNION ALL
    SELECT 'pkg:docker/org-' || name || '/' || name || '@sha256:' || md5(name),
           'collected', NULL, ver, 'sha256:' || md5(name)
    FROM base WHERE k % 4 = 1
    UNION ALL
    SELECT 'pkg:docker/' || name, 'collected', NULL, ver,
           'sha256:' || md5(name)
    FROM base WHERE k % 4 = 2
    UNION ALL
    SELECT 'pkg:docker/' || name, 'collected', NULL, ver || '.9', NULL
    FROM base WHERE k % 4 = 2
    UNION ALL
    SELECT 'pkg:docker/' || name || '@gone', 'tag_not_found',
           NULL, NULL, NULL
    FROM base WHERE k % 4 = 3
    """,
)
def x_nix_dockerhub_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nix namespace gate + license resolution and dockerhub tag/digest
    matching (nix.py:24-66, dockerhub.py:17-125): only nixpkgs
    namespaces route to devbox, licenses resolve spdxId > fullName >
    shortName; docker purls default to the library namespace, match
    digests for sha256 versions, names otherwise, and fan out over all
    tags when versionless."""
    b = part_packages(spark, sf_dir)
    k, name, ver, ver2 = S.col("k"), S.col("name"), S.col("ver"), S.col("ver2")

    nix_ns = S.when(k % 3 == 0, "Nixpkgs").otherwise(
        S.concat("other-", name)
    )
    nix = b.select(
        F.expr(S.concat("pkg:nix/nixpkgs/", name, "@", ver).sql).alias("purl"),
        nix_route_col(F.expr(nix_ns.sql)).alias("status"),
        F.when(
            F.expr((k % 3 == 0).sql),
            nix_license_col(
                F.when(F.expr((k % 2 == 0).sql), F.lit("MIT")),
                F.lit("MIT License"),
                F.lit("mit"),
            ),
        ).alias("license"),
        F.expr("CAST(NULL AS string)").alias("version"),
        F.expr("CAST(NULL AS string)").alias("digest"),
    )

    dk_digest = S.concat("sha256:", S.md5(name))
    dk_requests = (
        S.sel(
            b.filter((k % 4 == 0).sql),
            S.concat("pkg:docker/", name, "@", ver).alias("purl"),
            "CAST(NULL AS string) AS namespace",
            name.alias("name"),
            ver.alias("version"),
        )
        .unionByName(
            S.sel(
                b.filter((k % 4 == 1).sql),
                S.concat(
                    "pkg:docker/org-", name, "/", name, "@", dk_digest
                ).alias("purl"),
                S.concat("org-", name).alias("namespace"),
                name.alias("name"),
                dk_digest.alias("version"),
            )
        )
        .unionByName(
            S.sel(
                b.filter((k % 4 == 2).sql),
                S.concat("pkg:docker/", name).alias("purl"),
                "CAST(NULL AS string) AS namespace",
                name.alias("name"),
                "CAST(NULL AS string) AS version",
            )
        )
        .unionByName(
            S.sel(
                b.filter((k % 4 == 3).sql),
                S.concat("pkg:docker/", name, "@gone").alias("purl"),
                "CAST(NULL AS string) AS namespace",
                name.alias("name"),
                S.lit("gone").alias("version"),
            )
        )
    )
    tag_ns = S.when(k % 4 == 1, S.concat("org-", name)).otherwise(
        "library"
    )
    dk_tags = S.sel(
        b.filter((k % 4 != 2).sql),
        tag_ns.alias("namespace"),
        name.alias("name"),
        ver.alias("tag_name"),
        dk_digest.alias("digest"),
    ).unionByName(
        S.sel(
            b.filter((k % 4 == 2).sql),
            S.lit("library").alias("namespace"),
            name.alias("name"),
            ver.alias("tag_name"),
            dk_digest.alias("digest"),
        )
    ).unionByName(
        S.sel(
            b.filter((k % 4 == 2).sql),
            S.lit("library").alias("namespace"),
            name.alias("name"),
            ver2.alias("tag_name"),
            "CAST(NULL AS string) AS digest",
        )
    )
    docker = match_dockerhub_tags(dk_requests, dk_tags).selectExpr(
        "purl",
        "status",
        "CAST(NULL AS string) AS license",
        "version",
        "digest",
    )
    return nix.unionByName(docker)
