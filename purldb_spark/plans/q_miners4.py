"""Miner-mapper queries, batch 4: bitbucket / gitlab / github / eclipse /
hex / pub (sources/miners4.py). Fixtures: ecosystem-shaped JSON documents
built with column concat from the `part_packages` rows, mapped by the real
mappers, expected rows computed directly
by the oracle from the generating index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners4 import (
    map_bitbucket_download_docs,
    map_bitbucket_repo_docs,
    map_eclipse_docs,
    map_github_docs,
    map_gitlab_docs,
    map_hex_docs,
    map_pub_docs,
)

# `ns` (the repo owner slug) is read only by this module's fixtures
_NS_PACKAGES_SQL = f"""
  SELECT k, name, ver, 'ns' || CAST(k % 7 AS VARCHAR) AS ns, size, cs
  FROM ({PART_PACKAGES_SQL})
"""


def _ns_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.sel(
        part_packages(spark, sf_dir),
        "k",
        "name",
        "ver",
        S.concat("ns", (S.col("k") % 7).cast("string")).alias("ns"),
        "size",
        "cs",
    )


_BB_COLS = [
    "type", "namespace", "name", "purl", "homepage_url", "code_view_url",
    "bug_tracking_url", "description", "vcs_url", "primary_language",
    "owner", "owner_url", "download_url", "size", "release_date",
]


@query(
    "x_bitbucket_gitlab_map",
    oracle=f"""
    WITH base AS ({_NS_PACKAGES_SQL}),
    bb AS (
      SELECT *,
             (CASE WHEN k % 2 = 1 THEN 'hg' ELSE 'git' END)
               || '+https://bitbucket.org/' || ns || '/' || name AS bb_url
      FROM base
    )
    SELECT 'bitbucket' AS type, ns AS namespace, name,
           'pkg:bitbucket/' || ns || '/' || name AS purl,
           CASE WHEN k % 3 = 0 THEN 'https://bb.ex/' || name
                ELSE bb_url END AS homepage_url,
           bb_url || '/src' AS code_view_url,
           CASE WHEN k % 3 = 0 THEN bb_url || '/issues' END AS bug_tracking_url,
           'Repo ' || name AS description,
           bb_url AS vcs_url,
           'python' AS primary_language,
           'u' || CAST(k % 5 AS VARCHAR) AS owner,
           'https://bitbucket.org/u' || CAST(k % 5 AS VARCHAR) AS owner_url,
           NULL AS download_url, CAST(NULL AS BIGINT) AS size,
           NULL AS release_date
    FROM bb
    UNION ALL
    SELECT 'bitbucket', ns, name, 'pkg:bitbucket/' || ns || '/' || name,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           'https://bitbucket.org/' || ns || '/' || name || '/downloads/f'
             || CAST(f.i AS VARCHAR) || '.zip',
           CASE WHEN f.i = 1 THEN size ELSE size + 5 END,
           NULL
    FROM bb, (SELECT unnest(range(1, 3)) AS i) f
    UNION ALL
    SELECT 'gitlab', NULL, 'My ' || name, 'pkg:gitlab/' || name,
           'https://gitlab.com/grp/' || name,
           CASE WHEN k % 4 <> 0
                THEN 'git+https://gitlab.com/grp/' || name || '.git' END,
           NULL, 'GL ' || name,
           CASE WHEN k % 4 <> 0
                THEN 'git+https://gitlab.com/grp/' || name || '.git' END,
           NULL, NULL, NULL, NULL, NULL, '2023-04-05'
    FROM bb
    """,
)
def x_bitbucket_gitlab_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitbucket repo-template + downloads mapping (bitbucket.py:200-301)
    and GitLab projects mapping (gitlab.py:88-141): scm-default git, website
    fallback to the bb_url, has_issues-gated bug tracker, one row per
    downloads value, and the gitlab purl name taken from the web_url slug
    (NOT the display name)."""
    b = _ns_packages(spark, sf_dir)
    k, name, ns = S.col("k"), S.col("name"), S.col("ns")

    scm = S.when(k % 2 == 1, '"scm":"hg",').otherwise("")
    website = S.when(
        k % 3 == 0, S.concat('"website":"https://bb.ex/', name, '",')
    ).otherwise("")
    issues = S.when(k % 3 == 0, "true").otherwise("false")
    repo_doc = S.concat(
        '{"full_name":"', ns, "/", name, '",',
        scm, website,
        '"description":"Repo ', name, '",',
        '"language":"python","has_issues":', issues, ",",
        '"owner":{"username":"u', (k % 5).cast("string"),
        '","links":{"html":{"href":"https://bitbucket.org/u',
        (k % 5).cast("string"), '"}}}}',
    )
    repo = map_bitbucket_repo_docs(S.sel(b, repo_doc.alias("doc"))).selectExpr(
        "type", "namespace", "name", "purl", "homepage_url", "code_view_url",
        "bug_tracking_url", "description", "vcs_url", "primary_language",
        "owner", "owner_url",
        "CAST(NULL AS string) AS download_url",
        "CAST(NULL AS long) AS size",
        "CAST(NULL AS string) AS release_date",
    )

    dl_href = S.concat(
        "https://bitbucket.org/", ns, "/", name, "/downloads/f"
    )
    dl_doc = S.concat(
        '{"values":[{"name":"f1.zip","size":', S.col("size").cast("string"),
        ',"links":{"self":{"href":"', dl_href, '1.zip"}}},',
        '{"name":"f2.zip","size":', (S.col("size") + 5).cast("string"),
        ',"links":{"self":{"href":"', dl_href, '2.zip"}}}]}',
    )
    dl_purl = S.concat("pkg:bitbucket/", ns, "/", name)
    dls = map_bitbucket_download_docs(
        S.sel(b, dl_doc.alias("doc"), dl_purl.alias("package_url"))
    ).selectExpr(
        "type", "namespace", "name", "purl",
        "CAST(NULL AS string) AS homepage_url",
        "CAST(NULL AS string) AS code_view_url",
        "CAST(NULL AS string) AS bug_tracking_url",
        "CAST(NULL AS string) AS description",
        "CAST(NULL AS string) AS vcs_url",
        "CAST(NULL AS string) AS primary_language",
        "CAST(NULL AS string) AS owner",
        "CAST(NULL AS string) AS owner_url",
        "download_url", "size",
        "CAST(NULL AS string) AS release_date",
    )

    repo_url = S.when(
        k % 4 != 0, S.concat('"http_url_to_repo":"https://gitlab.com/grp/',
                             name, '.git",'),
    ).otherwise("")
    gl_doc = S.concat(
        '{"name":"My ', name, '",',
        '"web_url":"https://gitlab.com/grp/', name, '",',
        repo_url,
        '"description":"GL ', name, '",',
        '"created_at":"2023-04-05T06:07:08.000Z"}',
    )
    gl = map_gitlab_docs(S.sel(b, gl_doc.alias("doc"))).selectExpr(
        "type",
        "CAST(NULL AS string) AS namespace",
        "name", "purl", "homepage_url", "code_view_url",
        "CAST(NULL AS string) AS bug_tracking_url",
        "description", "vcs_url",
        "CAST(NULL AS string) AS primary_language",
        "CAST(NULL AS string) AS owner",
        "CAST(NULL AS string) AS owner_url",
        "CAST(NULL AS string) AS download_url",
        "CAST(NULL AS long) AS size",
        "CAST(release_date AS string) AS release_date",
    )
    return (
        repo.selectExpr(*_BB_COLS)
        .unionByName(dls.selectExpr(*_BB_COLS))
        .unionByName(gl.selectExpr(*_BB_COLS))
    )


@query(
    "x_github_map",
    oracle=f"""
    WITH base AS ({_NS_PACKAGES_SQL}),
    gh AS (
      SELECT *, 'https://github.com/' || ns || '/' || name AS hurl,
             'git+git://github.com/' || ns || '/' || name || '.git' AS vcs,
             'GH ' || name AS descr, 'u' || CAST(k % 5 AS VARCHAR) AS owner,
             'pkg:github/' || ns || '/' || name AS purl0
      FROM base
    )
    SELECT 'github' AS type, ns AS namespace, name, purl0 AS purl,
           NULL AS version, descr AS description, 'go' AS primary_language,
           hurl AS homepage_url, vcs AS vcs_url, owner,
           hurl || '/releases/d1' AS download_url,
           size + 1 AS size, NULL AS sha1, '2023-01-02' AS release_date
    FROM gh WHERE k % 2 = 0
    UNION ALL
    -- tag rows inherit the last download's size/date when the repo has
    -- downloads (the reference's evolve carry-over, github.py:254-296)
    SELECT 'github', ns, name, purl0 || '@v' || ver, 'v' || ver, descr, 'go',
           hurl, vcs, owner, hurl || '/tarball/v' || ver,
           CASE WHEN k % 2 = 0 THEN size + 1 ELSE size END, cs,
           CASE WHEN k % 2 = 0 THEN '2023-01-02' END
    FROM gh WHERE k % 3 <> 0
    UNION ALL
    SELECT 'github', ns, name, purl0 || '@v' || ver, 'v' || ver, descr, 'go',
           hurl, vcs, owner, hurl || '/zipball/v' || ver,
           CASE WHEN k % 2 = 0 THEN size + 1 ELSE size END, cs,
           CASE WHEN k % 2 = 0 THEN '2023-01-02' END
    FROM gh WHERE k % 3 <> 0
    UNION ALL
    SELECT 'github', ns, name, purl0, NULL, descr, 'go', hurl, vcs, owner,
           hurl || '/archive/master.zip', size, NULL, NULL
    FROM gh WHERE k % 2 = 1 AND k % 3 = 0
    """,
)
def x_github_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GitHub repo mapping (github.py:221-294): per-download rows, tag
    tarball+zipball rows with versioned purls and commit sha1, and the
    branch-archive fallback rows for repos with neither tags nor downloads
    (the visitor populates branches_download_urls only then,
    github.py:84-195)."""
    b = _ns_packages(spark, sf_dir)
    k, name, ns, ver, cs = (
        S.col("k"), S.col("name"), S.col("ns"), S.col("ver"), S.col("cs")
    )
    hurl = S.concat("https://github.com/", ns, "/", name)
    downloads = S.when(
        k % 2 == 0,
        S.concat(
            '[{"html_url":"', hurl,
            '/releases/d1","size":', (S.col("size") + 1).cast("string"),
            ',"created_at":"2023-01-02T03:04:05Z"}]',
        ),
    ).otherwise("[]")
    tags = S.when(
        k % 3 != 0,
        S.concat(
            '[{"name":"v', ver,
            '","tarball_url":"', hurl, "/tarball/v", ver,
            '","zipball_url":"', hurl, "/zipball/v", ver,
            '","sha1":"', cs, '"}]',
        ),
    ).otherwise("[]")
    branches = S.when(
        (k % 2 == 1) & (k % 3 == 0),
        S.concat('["', hurl, '/archive/master.zip"]'),
    ).otherwise("[]")
    doc = S.concat(
        '{"full_name":"', ns, "/", name, '",',
        '"name":"', name, '",',
        '"description":"GH ', name, '",',
        '"language":"go",',
        '"html_url":"', hurl, '",',
        '"git_url":"git://github.com/', ns, "/", name, '.git",',
        '"size":', S.col("size").cast("string"), ",",
        '"owner":"u', (k % 5).cast("string"), '",',
        '"downloads":', downloads, ",",
        '"tags":', tags, ",",
        '"branches_download_urls":', branches, "}",
    )
    gh = map_github_docs(S.sel(b, doc.alias("doc")))
    return gh.selectExpr(
        *[
            "CAST(release_date AS string) AS release_date"
            if c == "release_date"
            else c
            for c in gh.columns
        ]
    )


_EHP_COLS = [
    "type", "name", "version", "purl", "description", "homepage_url",
    "bug_tracking_url", "licenses", "download_url", "sha256",
    "api_data_url", "release_date", "owners", "owner_emails",
    "repository_homepage_url",
]


@query(
    "x_eclipse_hex_pub_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'eclipse' AS type, name, NULL AS version,
           'pkg:eclipse/' || name AS purl,
           CASE WHEN k % 2 = 0 THEN 'Desc ' || name ELSE 'T ' || name END
             AS description,
           'https://ecl.ex/' || name AS homepage_url,
           'https://bugs.ex/' || name AS bug_tracking_url,
           'EPL-2.0; Apache-2.0' AS licenses,
           'https://dl.ecl.ex/' || name || '-' || CAST(f.i AS VARCHAR) || '.zip'
             AS download_url,
           NULL AS sha256, NULL AS api_data_url, NULL AS release_date,
           NULL AS owners, NULL AS owner_emails, NULL AS repository_homepage_url
    FROM base, (SELECT unnest(range(1, 3)) AS i) f
    WHERE f.i = 1 OR k % 3 = 0
    UNION ALL
    SELECT 'hex', name, ver, 'pkg:hex/' || name || '@' || ver,
           'Hex ' || name, 'https://hex.pm/packages/' || name, NULL,
           'MIT; Apache-2.0',
           'https://repo.hex.pm/tarballs/' || name || '-' || ver || '.tar',
           cs, 'https://hex.pm/api/packages/' || name || '/releases/' || ver,
           '2022-03-04',
           CASE WHEN k % 2 = 0 THEN 'o1; o2' ELSE 'o1' END,
           'o1@ex.dev', NULL
    FROM base
    UNION ALL
    SELECT 'pub', name, ver, 'pkg:pub/' || name || '@' || ver,
           'P ' || name, 'https://pub.ex/' || name,
           'https://github.com/ex/' || name || '/issues',
           'BSD-3-Clause',
           'https://pub.dev/packages/' || name || '/versions/' || ver || '.tar.gz',
           NULL, NULL, NULL, NULL, NULL, 'https://github.com/ex/' || name
    FROM base
    UNION ALL
    SELECT 'pub', name, '0.0.1', 'pkg:pub/' || name || '@0.0.1',
           NULL, NULL, NULL, NULL,
           'https://pub.dev/packages/' || name || '/versions/0.0.1.tar.gz',
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM base
    """,
)
def x_eclipse_hex_pub_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eclipse projects-JSON mapping (eclipse.py:187-232: description
    fallback to title, one row per download URL), hex.pm release mapping
    (hex.py:20-59: all owners as parties, checksum sha256, repo.hex.pm
    tarball), and pub.dev versions mapping (pub.py:11-78: per-version
    pubspec rows, case-insensitive 'unknown' license dropped)."""
    b = part_packages(spark, sf_dir)
    k, name, ver, cs = S.col("k"), S.col("name"), S.col("ver"), S.col("cs")

    desc_arr = S.when(
        k % 2 == 0, S.concat('[{"value":"Desc ', name, '"}]')
    ).otherwise("[]")
    dl2 = S.when(
        k % 3 == 0,
        S.concat(',{"url":"https://dl.ecl.ex/', name, '-2.zip"}'),
    ).otherwise("")
    ecl_doc = S.concat(
        '{"projects":{"', name, '":{',
        '"title":"T ', name, '",',
        '"description":', desc_arr, ",",
        '"website_url":[{"url":"https://ecl.ex/', name, '"}],',
        '"bugzilla":[{"query_url":"https://bugs.ex/', name, '"}],',
        '"licenses":[{"name":"EPL-2.0"},{"name":"Apache-2.0"}],',
        '"download_url":[{"url":"https://dl.ecl.ex/', name, '-1.zip"}',
        dl2, "]}}}",
    )
    ecl = map_eclipse_docs(S.sel(b, ecl_doc.alias("doc"))).selectExpr(
        "type", "name",
        "CAST(NULL AS string) AS version",
        "purl", "description", "homepage_url", "bug_tracking_url",
        "extracted_license_statement AS licenses",
        "download_url",
        "CAST(NULL AS string) AS sha256",
        "CAST(NULL AS string) AS api_data_url",
        "CAST(NULL AS string) AS release_date",
        "CAST(NULL AS string) AS owners",
        "CAST(NULL AS string) AS owner_emails",
        "CAST(NULL AS string) AS repository_homepage_url",
    )

    o2 = S.when(k % 2 == 0, ',{"username":"o2"}').otherwise("")
    hex_doc = S.concat(
        '{"meta":{"description":"Hex ', name,
        '","licenses":["MIT","Apache-2.0"]},',
        '"owners":[{"username":"o1","email":"o1@ex.dev"}', o2, "],",
        '"inserted_at":"2022-03-04T05:06:07Z",',
        '"name":"', name, '",',
        '"version_info":{"version":"', ver,
        '","checksum":"', cs,
        '","html_url":"https://hex.pm/packages/', name, '"}}',
    )
    hx = map_hex_docs(S.sel(b, hex_doc.alias("doc"))).selectExpr(
        "type", "name", "version", "purl", "description",
        "homepage_url",
        "CAST(NULL AS string) AS bug_tracking_url",
        "declared_license AS licenses",
        "download_url", "sha256", "api_data_url",
        "CAST(release_date AS string) AS release_date",
        "owners", "owner_emails",
        "CAST(NULL AS string) AS repository_homepage_url",
    )

    pub_doc = S.concat(
        '{"name":"', name, '","versions":[',
        '{"version":"', ver, '","pubspec":{',
        '"description":"P ', name, '",',
        '"homepage":"https://pub.ex/', name, '",',
        '"repository":"https://github.com/ex/', name, '",',
        '"issue_tracker":"https://github.com/ex/', name, '/issues",',
        '"license":"BSD-3-Clause"}},',
        '{"version":"0.0.1","pubspec":{"license":"UNKNOWN"}}]}',
    )
    pub = map_pub_docs(S.sel(b, pub_doc.alias("doc"))).selectExpr(
        "type", "name", "version", "purl", "description", "homepage_url",
        "bug_tracking_url",
        "extracted_license_statement AS licenses",
        "download_url",
        "CAST(NULL AS string) AS sha256",
        "CAST(NULL AS string) AS api_data_url",
        "CAST(NULL AS string) AS release_date",
        "CAST(NULL AS string) AS owners",
        "CAST(NULL AS string) AS owner_emails",
        "repository_homepage_url",
    )
    return (
        ecl.selectExpr(*_EHP_COLS)
        .unionByName(hx.selectExpr(*_EHP_COLS))
        .unionByName(pub.selectExpr(*_EHP_COLS))
    )
