"""Miner-mapper queries, batch 7: cpan / apache (sources/miners7.py).
Fixtures: ecosystem-shaped documents built with column concat from the
`part_packages` rows, mapped by the real parsers, expected rows
computed directly by the oracle from the generating index.

The apache downloads fixture uses a dash-free project slug
(replace(name, '-', '_')) so the version-segment scan matches on the
intended numeric segment — the reference algorithm (and ours) would
otherwise latch onto the numeric dash segments inside the synthetic
part-derived names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.miners7 import (
    map_apache_downloads,
    map_apache_podlings,
    map_apache_projects,
    map_cpan_meta_docs,
    map_cpan_release_docs,
)

@query(
    "x_cpan_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'cpan' AS type, name, ver AS version,
           'pkg:cpan/' || name || '@' || ver AS purl,
           'Perl ' || name AS description,
           'https://cpan.metacpan.org/authors/' || name || '-' || ver
             || '.tar.gz' AS download_url,
           nullif(concat_ws('; ',
             CASE WHEN k % 3 = 0 THEN 'perl_5'
                  WHEN k % 3 = 1 THEN 'perl_5; mit' END,
             CASE WHEN k % 2 = 0 THEN 'http://dev.perl.org/licenses/' END
           ), '') AS extracted_license_statement,
           '2014-04-20T21:30:13' AS release_date,
           CASE WHEN k % 2 = 0 THEN 'http://' || name || '.ex' END
             AS homepage_url,
           CASE WHEN k % 3 = 0 THEN 'git+git://github.com/ex/' || name || '.git'
                WHEN k % 3 = 1 THEN 'https://svn.ex/' || name END AS vcs_url,
           CASE WHEN k % 3 = 0 THEN 'https://rt.cpan.org/' || name END
             AS bug_tracking_url,
           NULL AS keywords,
           'A-' || name AS parties,
           NULL AS party_emails,
           'cpan_release_json' AS datasource_id
    FROM base
    UNION ALL
    SELECT 'cpan', name, ver, 'pkg:cpan/' || name || '@' || ver,
           CASE WHEN k % 4 = 0 THEN name ELSE 'Meta ' || name END,
           'http://www.cpan.org/authors/id/' || name || '-' || ver
             || '.tar.gz',
           CASE WHEN k % 2 = 0 THEN 'perl_5' ELSE 'mit' END,
           NULL, NULL,
           CASE WHEN k % 3 = 0 THEN 'git+git://g.ex/' || name
                WHEN k % 3 = 1 THEN 'git+git://s.ex/' || name END,
           NULL,
           CASE WHEN k % 3 = 0 THEN 'k1' END,
           'Ann; Solo', 'a@ex.dev', 'cpan_meta_json'
    FROM base
    """,
)
def x_cpan_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metacpan release-search mapping (cpan.py:211-296): blank licenses
    dropped, resources.license URLs appended, ".git"-gated git+ vcs
    prefix, nameless hits dropped; .meta mapping (cpan.py:325-395):
    string-vs-list license, dict-vs-string repository, "git:"-only vcs,
    description defaulting to the name, author name/email split."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")

    rel_lic = (
        S.when(k % 3 == 0, '"license":["perl_5"," "],')
        .when(k % 3 == 1, '"license":["perl_5","mit"],')
        .otherwise('"license":[],')
    )
    res_lic = S.when(
        k % 2 == 0, '"license":["http://dev.perl.org/licenses/"],'
    ).otherwise("")
    res_home = S.when(
        k % 2 == 0, S.concat('"homepage":"http://', name, '.ex",')
    ).otherwise("")
    res_repo = (
        S.when(
            k % 3 == 0,
            S.concat('"repository":{"url":"git://github.com/ex/', name, '.git"},'),
        )
        .when(
            k % 3 == 1,
            S.concat('"repository":{"url":"https://svn.ex/', name, '"},'),
        )
        .otherwise("")
    )
    res_bug = S.when(
        k % 3 == 0,
        S.concat('"bugtracker":{"web":"https://rt.cpan.org/', name, '"},'),
    ).otherwise("")
    release_doc = S.concat(
        '{"hits":{"hits":[{"_source":{"name":"', name,
        '","abstract":"Perl ', name,
        '","version":"', ver,
        '","download_url":"https://cpan.metacpan.org/authors/', name,
        "-", ver,
        '.tar.gz",',
        rel_lic,
        '"date":"2014-04-20T21:30:13","author":"A-', name,
        '","resources":{',
        res_home, res_lic, res_repo, res_bug,
        '"x":null}}},{"_source":{}}]}}',
    )
    rel = map_cpan_release_docs(S.sel(b, release_doc.alias("doc"))).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "download_url",
        "extracted_license_statement",
        "release_date",
        "homepage_url",
        "vcs_url",
        "bug_tracking_url",
        "CAST(NULL AS string) AS keywords",
        "parties",
        "CAST(NULL AS string) AS party_emails",
        "datasource_id",
    )

    meta_abs = S.when(
        k % 4 != 0, S.concat('"abstract":"Meta ', name, '",')
    ).otherwise("")
    meta_lic = S.when(k % 2 == 0, '"license":["perl_5"],').otherwise(
        '"license":"mit",'
    )
    meta_kw = S.when(k % 3 == 0, '"keywords":["k1"],').otherwise("")
    meta_repo = (
        S.when(
            k % 3 == 0,
            S.concat('"resources":{"repository":{"url":"git://g.ex/', name, '"}},'),
        )
        .when(
            k % 3 == 1,
            S.concat('"resources":{"repository":"git://s.ex/', name, '"},'),
        )
        .otherwise('"resources":{"repository":{"url":"https://h.ex"}},')
    )
    meta_doc = S.concat(
        '{"name":"', name,
        '","version":"', ver,
        '",',
        meta_abs, meta_lic, meta_kw, meta_repo,
        '"author":["Ann <a@ex.dev>","Solo"]}',
    )
    meta_uri = S.concat(
        "http://www.cpan.org/authors/id/", name, "-", ver, ".meta"
    )
    meta = map_cpan_meta_docs(
        S.sel(b, meta_doc.alias("doc"), meta_uri.alias("uri"))
    ).selectExpr(
        "type",
        "name",
        "version",
        "purl",
        "description",
        "download_url",
        "extracted_license_statement",
        "CAST(NULL AS string) AS release_date",
        "CAST(NULL AS string) AS homepage_url",
        "vcs_url",
        "CAST(NULL AS string) AS bug_tracking_url",
        "keywords",
        "parties",
        "party_emails",
        "datasource_id",
    )
    return rel.unionByName(meta)


@query(
    "x_apache_map",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    b2 AS (SELECT *, replace(name, '-', '_') AS dlname FROM base),
    rels(rev, created, n) AS
      (VALUES ('1.0', '2020-01-02', 0), ('2.0', '2020', 1)),
    projects AS (
      SELECT 'apache' AS type, 'proj-' || name AS name,
             CAST(NULL AS VARCHAR) AS namespace,
             CASE WHEN k % 3 = 0 THEN rev END AS version,
             NULL AS purl,
             CASE WHEN k % 3 = 1 THEN 'L ' || name
                  WHEN k % 3 = 2 THEN 'S ' || name
                  ELSE 'S ' || name || chr(10) || 'L ' || name
                  END AS description,
             'https://' || name || '.apache.org' AS homepage_url,
             'https://issues.apache.org/jira/' || name AS bug_tracking_url,
             'Java' AS primary_language,
             CASE WHEN k % 4 = 0
                  THEN 'https://' || name || '.apache.org/download' END
               AS download_url,
             'https://svn.apache.org/repos/' || name AS code_view_url,
             CASE WHEN k % 2 = 0
                  THEN 'http://usefulinc.com/doap/licenses/asl20'
                  ELSE 'https://custom.ex/lic' END
               AS extracted_license_statement,
             CASE WHEN k % 2 = 0 THEN 'apache-2.0' END
               AS declared_license_expression,
             'db; library' AS keywords,
             'M1; M2' AS parties,
             'm1@a.org; ' AS party_emails,
             CASE WHEN k % 3 = 0 AND n = 0 THEN created END AS release_date,
             CAST(NULL AS VARCHAR) AS download_sha256,
             CAST(NULL AS VARCHAR) AS download_sha512,
             CAST(NULL AS VARCHAR) AS download_md5,
             CAST(NULL AS VARCHAR) AS download_sha,
             CAST(NULL AS VARCHAR) AS download_sha1,
             'apache_json' AS datasource_id
      FROM base CROSS JOIN rels
      WHERE k % 3 = 0 OR n = 0
    ),
    podlings AS (
      SELECT 'apache-podling', 'pod-' || name, NULL, NULL,
             'pkg:apache-podling/pod-' || name,
             'Pod ' || name, 'https://' || name || '.incubator.apache.org',
             NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             NULL, NULL, NULL, NULL, NULL, NULL
      FROM base WHERE k % 2 = 0
    ),
    downloads AS (
      SELECT 'apache', dlname, NULL, '2.4.6', 'pkg:apache/' || dlname,
             NULL, NULL, NULL, NULL,
             'https://archive.apache.org/dist/' || dlname
               || '/2.4/apache-' || dlname || '-2.4.6.zip',
             NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             cs, NULL, cs2, NULL, NULL, NULL
      FROM b2
      UNION ALL
      SELECT 'apache', dlname, NULL, '0.1-M1', 'pkg:apache/' || dlname,
             NULL, NULL, NULL, NULL,
             'https://apache.org/dist/' || dlname || '/x-' || dlname
               || '-0.1-M1.tar.gz',
             NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             NULL, NULL, NULL, NULL, NULL, NULL
      FROM b2
    )
    SELECT * FROM projects
    UNION ALL SELECT * FROM podlings
    UNION ALL SELECT * FROM downloads
    """,
)
def x_apache_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """projects.apache.org mapping (apache.py:389-477): short+long
    description join, per-release rows vs a versionless row, 10-char
    release-date gate, ASL-2.0 URL -> declared expression, mailto:
    strip; podlings (apache.py:493-509); dist downloads
    (apache.py:513-591): checksum files folded onto their archive row,
    version from the first numeric dash segment."""
    b = part_packages(spark, sf_dir)
    k, name, cs, cs2 = S.col("k"), S.col("name"), S.col("cs"), S.col("cs2")
    dlname = S.replace(name, "-", "_")

    shortd = S.when(
        k % 3 != 1, S.concat('"shortdesc":"S ', name, '",')
    ).otherwise("")
    longd = S.when(
        k % 3 != 2, S.concat('"description":"L ', name, '",')
    ).otherwise("")
    dlpage = S.when(
        k % 4 == 0,
        S.concat('"download-page":"https://', name, '.apache.org/download",'),
    ).otherwise("")
    lic = S.when(
        k % 2 == 0, '"license":"http://usefulinc.com/doap/licenses/asl20",'
    ).otherwise('"license":"https://custom.ex/lic",')
    releases = S.when(
        k % 3 == 0,
        ',"release":[{"revision":"1.0","created":"2020-01-02"},'
        '{"revision":"2.0","created":"2020"}]',
    ).otherwise("")
    projects_doc = S.concat(
        '{"proj-', name, '":{',
        shortd, longd,
        '"homepage":"https://', name, '.apache.org",',
        '"bug-database":"https://issues.apache.org/jira/', name, '",',
        '"programming-language":"Java",',
        dlpage, lic,
        '"category":" db , library ,",',
        '"repository":["https://svn.apache.org/repos/', name,
        '","second"],',
        '"maintainer":[{"name":"M1","mbox":"mailto:m1@a.org"},{"name":"M2"}]',
        releases,
        "}}",
    )
    projects = map_apache_projects(
        S.sel(b, projects_doc.alias("doc"))
    ).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS namespace",
        "version",
        "CAST(NULL AS string) AS purl",
        "description",
        "homepage_url",
        "bug_tracking_url",
        "primary_language",
        "download_url",
        "code_view_url",
        "extracted_license_statement",
        "declared_license_expression",
        "keywords",
        "parties",
        "party_emails",
        "release_date",
        *[
            f"CAST(NULL AS string) AS download_{t}"
            for t in ("sha256", "sha512", "md5", "sha", "sha1")
        ],
        "datasource_id",
    )

    pod_doc = S.when(
        k % 2 == 0,
        S.concat(
            '{"name":"pod-', name,
            '","description":"Pod ', name,
            '","homepage":"https://', name,
            '.incubator.apache.org"}',
        ),
    ).otherwise("{}")
    podlings = map_apache_podlings(S.sel(b, pod_doc.alias("doc"))).selectExpr(
        "type",
        "name",
        "CAST(NULL AS string) AS namespace",
        "CAST(NULL AS string) AS version",
        "purl",
        "description",
        "homepage_url",
        *[
            f"CAST(NULL AS string) AS {c}"
            for c in (
                "bug_tracking_url",
                "primary_language",
                "download_url",
                "code_view_url",
                "extracted_license_statement",
                "declared_license_expression",
                "keywords",
                "parties",
                "party_emails",
                "release_date",
                "download_sha256",
                "download_sha512",
                "download_md5",
                "download_sha",
                "download_sha1",
                "datasource_id",
            )
        ],
    )

    arc1 = S.concat(
        "https://archive.apache.org/dist/", dlname,
        "/2.4/apache-", dlname, "-2.4.6.zip",
    )
    arc2 = S.concat(
        "https://apache.org/dist/", dlname,
        "/x-", dlname, "-0.1-M1.tar.gz",
    )
    dl_purl = S.concat("pkg:apache/", dlname)
    uris = (
        S.sel(
            b,
            arc1.alias("uri"),
            dl_purl.alias("package_url"),
            "CAST(NULL AS string) AS data",
        )
        .unionByName(
            S.sel(
                b,
                S.concat(arc1, ".sha256").alias("uri"),
                dl_purl.alias("package_url"),
                cs.alias("data"),
            )
        )
        .unionByName(
            S.sel(
                b,
                S.concat(arc1, ".md5").alias("uri"),
                dl_purl.alias("package_url"),
                cs2.alias("data"),
            )
        )
        .unionByName(
            S.sel(
                b,
                arc2.alias("uri"),
                dl_purl.alias("package_url"),
                "CAST(NULL AS string) AS data",
            )
        )
    )
    downloads = map_apache_downloads(uris).selectExpr(
        "type",
        "name",
        "namespace",
        "version",
        "purl",
        *[
            f"CAST(NULL AS string) AS {c}"
            for c in (
                "description",
                "homepage_url",
                "bug_tracking_url",
                "primary_language",
            )
        ],
        "download_url",
        *[
            f"CAST(NULL AS string) AS {c}"
            for c in (
                "code_view_url",
                "extracted_license_statement",
                "declared_license_expression",
                "keywords",
                "parties",
                "party_emails",
                "release_date",
            )
        ],
        "download_sha256",
        "download_sha512",
        "download_md5",
        "download_sha",
        "download_sha1",
        "CAST(NULL AS string) AS datasource_id",
    )
    return projects.unionByName(podlings).unionByName(downloads)
