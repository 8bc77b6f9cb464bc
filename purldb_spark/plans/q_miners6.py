"""Miner-mapper queries, batch 6: bower / haxe / dockerhub / nix
(sources/miners6.py). Fixtures: ecosystem-shaped JSON documents built
with column concat from the `part_packages` rows, mapped by the
real parsers, expected rows computed directly by the oracle from the
generating index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners6 import (
    map_bower_docs,
    map_dockerhub_docs,
    map_haxe_docs,
    map_nix_docs,
)

@query(
    "x_bower_haxe_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'bower' AS type, name, ver AS version,
           'pkg:bower/' || name || CASE WHEN version IS NOT NULL THEN '@' || version ELSE '' END AS purl,
           'Bower pkg ' || name AS description,
           'https://bower.ex/' || name AS homepage_url,
           CASE WHEN k % 3 = 0 THEN 'MIT; Apache-2.0'
                WHEN k % 3 = 1 THEN 'MIT' END
             AS extracted_license_statement,
           'web; ui' AS keywords,
           CASE WHEN k % 2 = 0 THEN 'Ann' ELSE 'Bob; Cid' END AS parties,
           'git+https://github.com/ex/' || name || '.git' AS vcs_url,
           NULL AS download_url,
           'jquery@^1.0' AS dependencies,
           CASE WHEN k % 4 = 0 THEN 'grunt' END AS dev_dependencies,
           'bower_json' AS datasource_id
    FROM base
    UNION ALL
    SELECT 'haxe', name, ver, 'pkg:haxe/' || name || '@' || ver,
           'Haxe lib ' || name,
           'https://haxe.ex/' || name, 'GPL',
           CASE WHEN k % 2 = 0 THEN 't1' END,
           'c-' || name,
           NULL,
           'https://lib.haxe.org/p/' || name || '/' || ver || '/download/',
           'pkg:haxe/actuate@1.8.7; pkg:haxe/openfl',
           NULL, 'haxelib_json'
    FROM base
    """,
)
def x_bower_haxe_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bower.json mapping (bower.py:105-206): string-vs-list licenses,
    set-dedup, author-over-authors with the colon-split quirk, git+url
    vcs; haxelib.json mapping (haxe.py:106-111): tag keywords,
    contributor parties, dependency purls with blank requirements
    dropped, /download/ URL."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    lic = (
        S.when(k % 3 == 0, '"licenses":["MIT","Apache-2.0","MIT"],')
        .when(k % 3 == 1, '"licenses":"MIT",')
        .otherwise("")
    )
    authors = S.when(k % 2 == 0, '"author":"Ann",').otherwise(
        '"authors":["x: Bob","nocolon","y:Cid"],'
    )
    devdeps = S.when(k % 4 == 0, '"devDependencies":{"grunt":""},').otherwise(
        ""
    )
    bower_doc = S.concat(
        '{"name":"', name,
        '","version":"', ver,
        '","description":"Bower pkg ', name,
        '","homepage":"https://bower.ex/', name,
        '","keywords":["web","ui"],',
        lic,
        authors,
        devdeps,
        '"repository":{"type":"git","url":"https://github.com/ex/', name,
        '.git"},"dependencies":{"jquery":"^1.0"}}',
    )
    bower = map_bower_docs(S.sel(b, bower_doc.alias("doc"))).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "extracted_license_statement",
        "keywords",
        "parties",
        "vcs_url",
        "CAST(NULL AS string) AS download_url",
        "dependencies",
        "dev_dependencies",
        "datasource_id",
    )
    tags = S.when(k % 2 == 0, '"tags":["t1"],').otherwise("")
    haxe_doc = S.concat(
        '{"name":"', name,
        '","version":"', ver,
        '","url":"https://haxe.ex/', name,
        '","license":"GPL",',
        tags,
        '"description":"Haxe lib ', name,
        '","contributors":["c-', name,
        '"],"dependencies":{"actuate":"1.8.7","openfl":" "}}',
    )
    haxe = map_haxe_docs(S.sel(b, haxe_doc.alias("doc"))).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "homepage_url",
        "extracted_license_statement",
        "keywords",
        "parties",
        "CAST(NULL AS string) AS vcs_url",
        "download_url",
        "dependencies",
        "CAST(NULL AS string) AS dev_dependencies",
        "datasource_id",
    )
    return bower.unionByName(haxe)


@query(
    "x_dockerhub_nix_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    tags(tag, n) AS (VALUES ('latest', 0), ('1.0', 1)),
    docker AS (
      SELECT 'docker' AS type, name,
             CASE WHEN k % 2 = 1 THEN 'myorg' END AS namespace,
             tag AS version,
             'pkg:docker/' ||
               (CASE WHEN k % 2 = 1 THEN 'myorg/' ELSE '' END) ||
               name || '@' || tag AS purl,
             CASE WHEN k % 3 = 0 THEN 'Full desc ' || name
                  WHEN k % 3 = 1 THEN 'short ' || name
                  ELSE 'short ' || name || chr(10) || 'Full desc ' || name
                  END AS description,
             NULL AS extracted_license_statement,
             CAST(k % 2 = 0 AS VARCHAR) AS is_private,
             CASE WHEN n = 0 THEN cs ELSE cs2 END AS sha256,
             CASE WHEN n = 0 THEN size ELSE size + 5 END AS size,
             CASE WHEN n = 0 THEN 'u-' || name END AS parties,
             CASE WHEN k % 2 = 0
                  THEN 'https://hub.docker.com/_/' || name
                  ELSE 'https://hub.docker.com/r/myorg/' || name
                  END AS homepage_url,
             NULL AS release_date,
             'https://hub.docker.com/layers/' ||
               (CASE WHEN k % 2 = 1 THEN 'myorg' ELSE 'library' END) ||
               '/' || name || '/' || tag || '/images/sha256:' ||
               (CASE WHEN n = 0 THEN cs ELSE cs2 END) AS download_url,
             'dockerhub_repositories' AS datasource_id
      FROM base CROSS JOIN tags
    ),
    nixout(outn, n) AS (VALUES ('out', 0), ('', 1)),
    nix1 AS (
      SELECT 'nix' AS type, name, NULL AS namespace, ver AS version,
             'pkg:nix/' || name || '@' || ver || '?commit=c' ||
               substring(cs, 1, 8) ||
               (CASE WHEN n = 0 THEN '&output=out' ELSE '' END) ||
               '&system=x86_64-linux' AS purl,
             'Nix ' || name AS description,
             CASE WHEN k % 2 = 0 THEN 'MIT; BSD' ELSE 'GPL' END
               AS extracted_license_statement,
             NULL AS is_private,
             NULL AS sha256, CAST(NULL AS BIGINT) AS size, NULL AS parties,
             'https://nix.ex/' || name AS homepage_url,
             '2024-01-15' AS release_date,
             CASE WHEN n = 0
                  THEN 'https://cache.nixos.org/nar/' || cs || '.nar.xz' END
               AS download_url,
             'nix_api_metadata' AS datasource_id
      FROM base CROSS JOIN nixout
    ),
    nix2 AS (
      SELECT 'nix', name, NULL, '0.0.1',
             'pkg:nix/' || name || '@0.0.1?output=out&system=s2',
             'Nix ' || name,
             CASE WHEN k % 2 = 0 THEN 'MIT; BSD' ELSE 'GPL' END,
             NULL, NULL, CAST(NULL AS BIGINT), NULL,
             'https://nix.ex/' || name, NULL, NULL,
             'nix_api_metadata'
      FROM base WHERE k % 2 = 1
    )
    SELECT * FROM docker
    UNION ALL SELECT * FROM nix1
    UNION ALL SELECT * FROM nix2
    """,
)
def x_dockerhub_nix_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docker Hub tag mapping (dockerhub.py:200-246): blank description
    parts dropped, library-vs-org homepage and purl, sha256: digest
    prefix strip, per-tag layers download URL; nix metadata mapping
    (nix.py:53-121): purl-version release filter (off on odd k — all
    releases emit), null outputs skipped, alphabetical purl qualifiers
    with empties dropped, narinfo hash join resolving download URLs
    (unresolved -> null)."""
    b = part_packages(spark, sf_dir)
    k, name, ver, cs, cs2 = (
        S.col("k"),
        S.col("name"),
        S.col("ver"),
        S.col("cs"),
        S.col("cs2"),
    )
    short = S.when(k % 3 != 0, S.concat('"description":"short ', name, '",')).otherwise(
        ""
    )
    full = S.when(k % 3 == 1, '"full_description":"  ",').otherwise(
        S.concat('"full_description":"Full desc ', name, '",')
    )
    docker_doc = S.concat(
        '{"summary":{',
        short,
        full,
        '"is_private":',
        S.when(k % 2 == 0, "true").otherwise("false"),
        '},"tags":[{"name":"latest","full_size":',
        S.col("size").cast("string"),
        ',"digest":"sha256:', cs,
        '","last_updater_username":"u-', name,
        '"},{"name":"1.0","full_size":',
        (S.col("size") + 5).cast("string"),
        ',"digest":"sha256:', cs2,
        '"}]}',
    )
    docker = map_dockerhub_docs(
        S.sel(
            b,
            docker_doc.alias("doc"),
            name.alias("name"),
            S.when(k % 2 == 1, "myorg").alias("namespace"),
        )
    ).selectExpr(
        "type",
        "name",
        "namespace",
        "version",
        "purl",
        "description",
        "CAST(NULL AS string) AS extracted_license_statement",
        "CAST(is_private AS string) AS is_private",
        "sha256",
        "size",
        "parties",
        "homepage_url",
        "CAST(NULL AS string) AS release_date",
        "download_url",
        "datasource_id",
    )

    rel2 = S.when(
        k % 2 == 1,
        ',{"version":"0.0.1","platforms":[{"system":"s2",'
        '"outputs":[{"name":"out","path":"/nix/store/c-x"}]}]}',
    ).otherwise("")
    lic = S.when(k % 2 == 0, '"license":["MIT","BSD"],').otherwise(
        '"license":"GPL",'
    )
    nix_doc = S.concat(
        '{"name":"', name,
        '","summary":"Nix ', name,
        '","homepage_url":"https://nix.ex/', name,
        '",',
        lic,
        '"releases":[{"version":"', ver,
        '","platforms":[{"date":"2024-01-15","system":"x86_64-linux",',
        '"commit_hash":"c', S.substring(cs, 1, 8),
        '","outputs":[{"name":"out","path":"/nix/store/a', cs,
        "-", name, "-", ver,
        '"},{"name":"","path":"/nix/store/b', cs,
        '-dev"}]},{"system":"aarch64-linux","commit_hash":"",',
        '"outputs":null}]}',
        rel2,
        "]}",
    )
    # cs = md5(p_name) repeats across part rows; the narinfo store is keyed
    # by hash — dedupe so the fixture join stays 1:1 like production
    narinfo = S.sel(
        b,
        S.concat("a", cs).alias("hash"),
        S.concat("nar/", cs, ".nar.xz").alias("url_path"),
    ).dropDuplicates(["hash"])
    want = S.when(k % 2 == 0, ver)
    nix = map_nix_docs(
        S.sel(b, nix_doc.alias("doc"), want.alias("want")),
        narinfo=narinfo,
        version_col="want",
    ).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS namespace",
        "version",
        "purl",
        "description",
        "extracted_license_statement",
        "CAST(NULL AS string) AS is_private",
        "CAST(NULL AS string) AS sha256",
        "CAST(NULL AS long) AS size",
        "CAST(NULL AS string) AS parties",
        "homepage_url",
        "CAST(release_date AS string) AS release_date",
        "download_url",
        "datasource_id",
    )
    return docker.unionByName(nix)
