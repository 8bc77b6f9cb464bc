"""Collector-enrichment queries: maven POM ancestry merge and debian
dsc/copyright enrichment (sources/collectors.py — reference
minecode/collectors/maven.py + debian.py). Fixtures: ecosystem-shaped
documents built with column concat from the `part_packages` rows,
enriched by the real
operators, expected rows recomputed by the oracle from the generating
index.

Maven fixture: each part row is a package with a 2-3 deep POM chain —
child (license only when k%3=0, parties only when k%5=0, never a
homepage), parent (license only when k%3=1, always a homepage), and a
grandparent only when k%2=0 (always license/homepage/parties). The
expected merge follows the reference order: child value wins, else the
DEEPEST ancestor with a value (merge_ancestors iterates oldest->newest
and merge_parent assigns whenever still empty, maven.py:219-258).

Debian fixture: binary purl with arch qualifier on odd k, "lib" name
prefix on even k (pool-folder branch), epoch/revision/'+build' version
shapes by k%4, a source purl on k%3=0 (metadata name/version switch), a
copyright file except on k%3=1 (metadata-license fallback).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import query
from purldb_spark.sources.collectors import (
    enrich_debian_packages,
    merge_pom_ancestors,
    parse_pom_cols,
)

def _pom(g, a, v, license_=None, url=None, dev=None, parent=None):
    """Small expression-text POM builder for the fixture."""
    parts = [
        '<project><modelVersion>4.0.0</modelVersion>',
    ]
    if parent is not None:
        pg, pa, pv = parent
        parts += [
            "<parent><groupId>", pg,
            "</groupId><artifactId>", pa,
            "</artifactId><version>", pv,
            "</version></parent>",
        ]
    parts += [
        "<groupId>", g,
        "</groupId><artifactId>", a,
        "</artifactId><version>", v,
        "</version>",
    ]
    if url is not None:
        parts += ["<url>", url, "</url>"]
    if license_ is not None:
        parts += [
            "<licenses><license><name>", license_,
            "</name></license></licenses>",
        ]
    if dev is not None:
        parts += [
            "<developers><developer><name>", dev,
            "</name></developer></developers>",
        ]
    parts.append("</project>")
    return S.concat(*parts)


@query(
    "x_maven_pom_enrich",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:maven/org.ex/' || name || '@' || ver AS purl,
           'org.ex' AS namespace, name, ver AS version,
           CASE WHEN k % 3 = 0 THEN 'CHILD-LIC'
                WHEN k % 2 = 0 THEN 'GRAND-LIC'
                WHEN k % 3 = 1 THEN 'PARENT-LIC' END
             AS declared_license_expression,
           CASE WHEN k % 2 = 0 THEN 'https://grand.ex/' || name
                ELSE 'https://parent.ex/' || name END AS homepage_url,
           CASE WHEN k % 5 = 0 THEN 'Child Team'
                WHEN k % 2 = 0 THEN 'Grand Team' END AS parties
    FROM base
    """,
)
def x_maven_pom_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maven collect enrichment (maven.py:198-258): parse the POM chain,
    fill empty declared_license_expression / homepage_url / parties from
    the deepest ancestor holding a value (the reference's oldest-first
    merge), child values never overwritten."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    packages = S.sel(
        b,
        S.concat("pkg:maven/org.ex/", name, "@", ver).alias("purl"),
        S.lit("org.ex").alias("namespace"),
        name.alias("name"),
        ver.alias("version"),
        S.when(k % 3 == 0, "CHILD-LIC").alias(
            "declared_license_expression"
        ),
        "CAST(NULL AS string) AS homepage_url",
        S.when(k % 5 == 0, "Child Team").alias("parties"),
    )
    par_a = S.concat("par-", name)
    grand_a = S.concat("g-", name)
    child_pom = S.sel(
        b,
        _pom(
            "org.ex", name, ver,
            parent=("org.parent", par_a, "1"),
        ).alias("pom_text"),
    )
    parent_pom = S.sel(
        b,
        S.when(
            k % 2 == 0,
            _pom(
                "org.parent", par_a, "1",
                license_=S.when(k % 3 == 1, "PARENT-LIC").otherwise(""),
                url=S.concat("https://parent.ex/", name),
                parent=("org.grand", grand_a, "2"),
            ),
        )
        .otherwise(
            _pom(
                "org.parent", par_a, "1",
                license_=S.when(k % 3 == 1, "PARENT-LIC").otherwise(""),
                url=S.concat("https://parent.ex/", name),
            )
        )
        .alias("pom_text"),
    )
    grand_pom = S.sel(
        b.filter((k % 2 == 0).sql),
        _pom(
            "org.grand", grand_a, "2",
            license_="GRAND-LIC",
            url=S.concat("https://grand.ex/", name),
            dev="Grand Team",
        ).alias("pom_text"),
    )
    poms = parse_pom_cols(
        child_pom.unionByName(parent_pom).unionByName(grand_pom)
    )
    return merge_pom_ancestors(packages, poms, max_depth=3)


@query(
    "x_debian_collect_enrich",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    d AS (
      SELECT k, name, ver,
             CASE WHEN k % 2 = 0 THEN 'lib' || name ELSE name END AS dname,
             CASE WHEN k % 4 = 0 THEN ver || '-2'
                  WHEN k % 4 = 1 THEN ver || '+b1-1'
                  ELSE ver END AS av,
             CASE WHEN k % 2 = 0 THEN 'lib' || substring(name, 1, 1)
                  ELSE substring(name, 1, 1) END AS folder,
             CASE WHEN k % 3 = 0 THEN 'src-' || name
                  WHEN k % 2 = 0 THEN 'lib' || name ELSE name END AS mname,
             CASE WHEN k % 3 = 0 THEN ver || '-s1'
                  WHEN k % 4 = 0 THEN ver || '-2'
                  WHEN k % 4 = 1 THEN ver || '+b1-1'
                  ELSE ver END AS mver
      FROM base
    ),
    u AS (
      SELECT *,
             'http://deb.ex/pool/main/' || folder || '/' || dname || '/'
               AS adir,
             'http://meta.ex/main/' || folder || '/' || dname || '/' AS mdir
      FROM d
    )
    SELECT 'pkg:deb/debian/' || dname || '@' ||
             (CASE WHEN k % 4 = 0 THEN '1:' || ver || '-2'
                   WHEN k % 4 = 1 THEN ver || '+b1-1'
                   WHEN k % 4 = 2 THEN ver
                   ELSE ver || '-0' END) ||
             (CASE WHEN k % 2 = 1 THEN '?arch=amd64' ELSE '' END) AS purl,
           dname AS name,
           CASE WHEN k % 4 = 0 THEN '1:' || ver || '-2'
                WHEN k % 4 = 1 THEN ver || '+b1-1'
                WHEN k % 4 = 2 THEN ver
                ELSE ver || '-0' END AS version,
           CASE WHEN k % 2 = 1 THEN 'amd64' END AS arch,
           mname AS source_field,
           'https://home.ex/' || dname AS homepage_url,
           CASE WHEN k % 3 = 1 THEN 'META-LIC'
                ELSE 'MIT AND GPL-2+' END AS declared_license_expression,
           CASE WHEN k % 3 = 1 THEN NULL ELSE '2020 Ann' END AS copyright,
           'pkg:deb/debian/debhelper; pkg:deb/debian/cmake' ||
             (CASE WHEN k % 5 = 0 THEN '; pkg:deb/debian/dpkg' ELSE '' END)
             AS dependencies,
           'git' AS vcs_tool,
           'https://salsa.debian.org/x/' || dname || '.git' AS vcs_repo,
           adir || dname || '_' || av ||
             (CASE WHEN k % 2 = 1 THEN '_amd64' ELSE '' END) || '.deb'
             AS binary_archive_url,
           adir || mname || '_' || mver || '.tar.xz' AS source_archive_url,
           adir || mname || '_' || split_part(mver, '+', 1) || '.dsc'
             AS package_metadata_url,
           mdir || mname || '_' || mver || '_copyright'
             AS package_copyright_url
    FROM u
    """,
)
def x_debian_collect_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debian collect enrichment (debian.py:74-144 + DebianPackage
    285-464): dsc metadata fields, copyright-file license overlay
    (replace=True, falling back to the dsc License on a missing copyright
    file), dependency purls, Vcs field (Browser excluded), and the four
    pool archive URLs across the epoch / revision-0 / '+build' / lib-name
    / source-purl branches."""
    b = part_packages(spark, sf_dir)
    k, name, ver = S.col("k"), S.col("name"), S.col("ver")
    dname = S.when(k % 2 == 0, S.concat("lib", name)).otherwise(name)
    dver = (
        S.when(k % 4 == 0, S.concat("1:", ver, "-2"))
        .when(k % 4 == 1, S.concat(ver, "+b1-1"))
        .when(k % 4 == 2, ver)
        .otherwise(S.concat(ver, "-0"))
    )
    arch = S.when(k % 2 == 1, "amd64")
    src_name = S.when(k % 3 == 0, S.concat("src-", name))
    src_ver = S.when(k % 3 == 0, S.concat(ver, "-s1"))
    meta_name = S.coalesce(src_name, dname)
    predep = S.when(k % 5 == 0, "Pre-Depends: dpkg (>= 1.15)\n").otherwise(
        ""
    )
    dsc = S.concat(
        "Format: 3.0 (quilt)\nSource: ", meta_name,
        "\nVersion: ", dver,
        "\nHomepage: https://home.ex/", dname,
        "\nLicense: META-LIC\nBuild-Depends: debhelper (>= 9), cmake\n",
        predep,
        "Vcs-Browser: https://salsa.debian.org/x/", dname,
        "\nVcs-Git: https://salsa.debian.org/x/", dname,
        ".git\n",
    )
    copyright_doc = S.when(
        k % 3 != 1,
        "Format: https://www.debian.org/doc/packaging-manuals/"
        "copyright-format/1.0/\nCopyright: 2020 Ann\n"
        "License: MIT\n some text\nFiles: debian/*\n"
        "License: GPL-2+\nLicense: MIT\n",
    )
    requests = S.sel(
        b,
        S.concat(
            "pkg:deb/debian/", dname, "@", dver,
            S.when(arch.isNotNull(), "?arch=amd64").otherwise(""),
        ).alias("purl"),
        dname.alias("name"),
        dver.alias("version"),
        arch.alias("arch"),
        src_name.alias("source_name"),
        src_ver.alias("source_version"),
        S.lit("http://deb.ex/pool/main/").alias("archive_base_url"),
        S.lit("http://meta.ex/main/").alias("metadata_base_url"),
        dsc.alias("dsc_text"),
        copyright_doc.alias("copyright_text"),
    )
    return enrich_debian_packages(requests).drop(
        "source_name",
        "source_version",
        "archive_base_url",
        "metadata_base_url",
        "dsc_text",
        "copyright_text",
    )


@query(
    "x_hf_generic_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    b2 AS (SELECT k, name, ver, md5(CAST(k AS VARCHAR) || name) AS cs FROM base),
    hf_ok AS (
      SELECT k, name, cs, 'org-' || name AS ns,
             'pkg:huggingface/org-' || name || '/' || name || '@' || cs AS purl
      FROM b2 WHERE k % 4 = 0
    ),
    hf_bins AS (
      SELECT purl, 'collected' AS status, 'huggingface' AS type,
             ns AS namespace, name, cs AS version,
             'https://huggingface.co/' || ns || '/' || name || '/resolve/'
               || cs || '/' || f AS download_url,
             'https://huggingface.co/' || ns || '/' || name AS homepage_url,
             'https://huggingface.co/api/models/' || ns || '/' || name
               AS api_data_url,
             'au-' || name AS parties,
             '2024-02-03T00:00:00.000Z' AS release_date,
             CASE WHEN k % 8 = 0 THEN 'MIT license text' END
               AS extracted_license_statement,
             'source_archive' AS package_content
      FROM hf_ok CROSS JOIN (VALUES ('pytorch_model.bin'), ('model-2.bin')) t(f)
    ),
    hf_err AS (
      SELECT 'pkg:huggingface/' || name || '@' || cs AS purl,
             'missing_namespace' AS status,
             NULL AS type, NULL AS namespace, NULL AS name, NULL AS version,
             NULL AS download_url, NULL AS homepage_url, NULL AS api_data_url,
             NULL AS parties, NULL AS release_date,
             NULL AS extracted_license_statement, NULL AS package_content
      FROM b2 WHERE k % 4 = 1
      UNION ALL
      SELECT 'pkg:huggingface/org-' || name || '/' || name,
             'missing_version',
             NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      FROM b2 WHERE k % 4 = 2
      UNION ALL
      SELECT 'pkg:huggingface/org-' || name || '/' || name || '@' || cs,
             'no_model_data',
             NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      FROM b2 WHERE k % 4 = 3
    ),
    generic AS (
      SELECT CASE WHEN k % 3 = 0
                  THEN 'pkg:generic/blob-' || name
                       || '@1.0?download_url=https%3A%2F%2Fex.com%2F'
                       || name || '.tgz'
                  WHEN k % 3 = 1
                  THEN 'pkg:generic/ns1/blob-' || name
                       || '?download_url=http://p.ex/' || name
                  ELSE 'pkg:generic/blob-' || name || '@2.0' END AS purl,
             CASE WHEN k % 3 = 2 THEN 'missing_download_url'
                  ELSE 'collected' END AS status,
             CASE WHEN k % 3 <> 2 THEN 'generic' END AS type,
             CASE WHEN k % 3 = 1 THEN 'ns1' END AS namespace,
             CASE WHEN k % 3 <> 2 THEN 'blob-' || name END AS name,
             CASE WHEN k % 3 = 0 THEN '1.0' END AS version,
             CASE WHEN k % 3 = 0 THEN 'https://ex.com/' || name || '.tgz'
                  WHEN k % 3 = 1 THEN 'http://p.ex/' || name END
               AS download_url,
             NULL AS homepage_url, NULL AS api_data_url, NULL AS parties,
             NULL AS release_date, NULL AS extracted_license_statement,
             CASE WHEN k % 3 <> 2 THEN 'binary' END AS package_content
      FROM b2
    )
    SELECT * FROM hf_bins
    UNION ALL SELECT * FROM hf_err
    UNION ALL SELECT * FROM generic
    """,
)
def x_hf_generic_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HuggingFace + generic collect handlers (collectors2.py —
    reference collectors/huggingface.py:79-153 + generic.py:30-90):
    namespace/version gates, one row per .bin sibling (non-.bin
    siblings skipped), resolve/LICENSE text join, download_url
    qualifier extraction with percent-decoding, per-purl status."""
    from purldb_spark.sources.collectors2 import (
        map_generic_requests,
        map_huggingface_requests,
    )

    b = part_packages(spark, sf_dir).selectExpr(
        "k", "name", "ver", "md5(concat(CAST(k AS string), name)) AS cs"
    )
    k, name, cs = S.col("k"), S.col("name"), S.col("cs")
    ns = S.concat("org-", name)
    hf_purl = (
        S.when(
            k % 4 == 1,
            S.concat("pkg:huggingface/", name, "@", cs),
        )
        .when(
            k % 4 == 2,
            S.concat("pkg:huggingface/", ns, "/", name),
        )
        .otherwise(
            S.concat("pkg:huggingface/", ns, "/", name, "@", cs)
        )
    )
    hf_requests = S.sel(
        b,
        hf_purl.alias("purl"),
        S.when(k % 4 != 1, ns).alias("namespace"),
        name.alias("name"),
        S.when(k % 4 != 2, cs).alias("version"),
    )
    model_doc = S.concat(
        '{"author":"au-', name,
        '","createdAt":"2024-02-03T00:00:00.000Z","siblings":[',
        '{"rfilename":"pytorch_model.bin"},',
        '{"rfilename":"model-2.bin"},',
        '{"rfilename":"x.safetensors"}]}',
    )
    models = S.sel(
        b.filter((k % 4 == 0).sql),
        ns.alias("namespace"), name.alias("name"), model_doc.alias("doc"),
    )
    licenses = S.sel(
        b.filter((k % 8 == 0).sql),
        ns.alias("namespace"),
        name.alias("name"),
        S.lit("MIT license text").alias("license_text"),
    )
    hf = map_huggingface_requests(hf_requests, models, licenses)

    gen_purl = (
        S.when(
            k % 3 == 0,
            S.concat(
                "pkg:generic/blob-", name,
                "@1.0?download_url=https%3A%2F%2Fex.com%2F", name,
                ".tgz",
            ),
        )
        .when(
            k % 3 == 1,
            S.concat(
                "pkg:generic/ns1/blob-", name,
                "?download_url=http://p.ex/", name,
            ),
        )
        .otherwise(S.concat("pkg:generic/blob-", name, "@2.0"))
    )
    gen = map_generic_requests(S.sel(b, gen_purl.alias("purl")))
    null_hf_cols = [
        f"CAST(NULL AS string) AS {c}"
        for c in (
            "homepage_url",
            "api_data_url",
            "parties",
            "release_date",
            "extracted_license_statement",
        )
    ]
    gen = gen.selectExpr(
        "purl",
        "status",
        "type",
        "namespace",
        "name",
        "version",
        "download_url",
        *null_hf_cols,
        "package_content",
    )
    return hf.selectExpr(
        "purl",
        "status",
        "type",
        "namespace",
        "name",
        "version",
        "download_url",
        "homepage_url",
        "api_data_url",
        "parties",
        "release_date",
        "extracted_license_statement",
        "package_content",
    ).unionByName(gen)


@query(
    "x_conan_collect",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    b2 AS (SELECT k, name, ver, md5(name || CAST(k AS VARCHAR)) AS cs FROM base)
    SELECT 'pkg:conan/' || name || '@' || ver AS purl,
           CASE WHEN k % 5 IN (0, 1) THEN 'collected'
                WHEN k % 5 IN (2, 3) THEN 'no_recipe'
                ELSE 'no_download_url' END AS status,
           CASE WHEN k % 5 IN (0, 1) THEN 'conan' END AS type,
           CASE WHEN k % 5 IN (0, 1) THEN name END AS name,
           CASE WHEN k % 5 IN (0, 1) THEN ver END AS version,
           CASE WHEN k % 5 = 0 THEN 'https://c.ex/' || name || '-' || ver || '.tgz'
                WHEN k % 5 = 1 THEN 'https://c1.ex/' || name || '.tgz' END
             AS download_url,
           CASE WHEN k % 5 IN (0, 1) THEN cs END AS sha256,
           CASE WHEN k % 5 IN (0, 1) THEN 'Conan pkg ' || name END
             AS description,
           CASE WHEN k % 5 IN (0, 1) THEN 'MIT' END
             AS extracted_license_statement,
           CASE WHEN k % 5 IN (0, 1) THEN 'https://c.ex/' || name END
             AS homepage_url,
           CASE WHEN k % 5 IN (0, 1) THEN 't1; t2' END AS keywords,
           CASE WHEN k % 5 IN (0, 1) THEN 'source_archive' END
             AS package_content
    FROM b2
    UNION ALL
    SELECT 'pkg:conan/' || name, 'missing_version',
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM b2 WHERE k % 7 = 0
    """,
)
def x_conan_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conan-center collect (collectors3.py — reference
    collectors/conan.py:42-156): config.yml version->folder lookup,
    conandata.yml scalar-vs-list url with sha256, conanfile.py class
    attributes, and the reference's status ladder (missing version /
    recipe / download url)."""
    from purldb_spark.sources.collectors3 import map_conan_requests

    b = part_packages(spark, sf_dir).selectExpr(
        "k", "name", "ver", "md5(concat(name, CAST(k AS string))) AS cs"
    )
    k, name, ver, cs = S.col("k"), S.col("name"), S.col("ver"), S.col("cs")
    requests = S.sel(
        b,
        S.concat("pkg:conan/", name, "@", ver).alias("purl"),
        name.alias("name"),
        ver.alias("version"),
    ).unionByName(
        S.sel(
            b.filter((k % 7 == 0).sql),
            S.concat("pkg:conan/", name).alias("purl"),
            name.alias("name"),
            "CAST(NULL AS string) AS version",
        )
    )
    folder = S.when((k % 5 == 1) | (k % 5 == 3), "f2").otherwise("all")
    cfg_key = S.when(k % 5 == 2, "9.9.9").otherwise(ver)
    config_doc = S.concat(
        'versions:\n  "', cfg_key, '":\n    folder: ', folder,
        "\n",
    )
    configs = S.sel(b, name.alias("name"), config_doc.alias("doc"))

    cd_doc = (
        S.when(
            k % 5 == 0,
            S.concat(
                'sources:\n  "', ver,
                '":\n    url: "https://c.ex/', name, "-", ver,
                '.tgz"\n    sha256: "', cs, '"\n',
            ),
        )
        .when(
            k % 5 == 1,
            S.concat(
                'sources:\n  "', ver,
                '":\n    url:\n      - "https://c1.ex/', name,
                '.tgz"\n      - "https://c2.ex/', name,
                '.tgz"\n    sha256: "', cs, '"\n',
            ),
        )
        .when(
            k % 5 == 4,
            S.concat('sources:\n  "', ver, '":\n    other: 1\n'),
        )
    )
    conandatas = S.sel(
        b.filter(cd_doc.isNotNull().sql),
        name.alias("name"), folder.alias("folder"), cd_doc.alias("doc"),
    )
    cf_doc = S.when(
        k % 5 != 3,
        S.concat(
            "from conan import ConanFile\n\nclass PkgConan(ConanFile):\n"
            '    name = "',
            name,
            '"\n    description = "Conan pkg ', name,
            '"\n    license = "MIT"\n    homepage = "https://c.ex/', name,
            '"\n    topics = ("t1", "t2")\n',
        ),
    )
    conanfiles = S.sel(
        b.filter((k % 5 != 3).sql),
        name.alias("name"), folder.alias("folder"), cf_doc.alias("doc"),
    )
    return map_conan_requests(requests, configs, conandatas, conanfiles)


@query(
    "x_golang_route",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL})
    SELECT 'pkg:golang/github.com/org-' || name || '/' || name || '/v2@2.1.'
             || CAST(k AS VARCHAR) AS purl,
           'github' AS route,
           'org-' || name || '/' || name AS subset_path,
           '2.1.' || CAST(k AS VARCHAR) AS version,
           'pkg:github/org-' || name || '/' || name || '@2.1.'
             || CAST(k AS VARCHAR) AS target
    FROM base WHERE k % 4 = 0
    UNION ALL
    SELECT 'pkg:golang/gitlab.com/grp-' || name || '/sub/' || name || '@v1.'
             || CAST(k AS VARCHAR),
           'gitlab',
           'grp-' || name || '%2Fsub%2F' || name,
           'v1.' || CAST(k AS VARCHAR),
           'https://gitlab.com/api/v4/projects/grp-' || name || '%2Fsub%2F'
             || name
    FROM base WHERE k % 4 = 1
    UNION ALL
    SELECT 'pkg:golang/bitbucket.org/team-' || name || '/' || name || '@0.'
             || CAST(k AS VARCHAR),
           'bitbucket',
           'team-' || name || '/' || name,
           '0.' || CAST(k AS VARCHAR),
           'https://api.bitbucket.org/2.0/repositories/team-' || name || '/'
             || name
    FROM base WHERE k % 4 = 2
    UNION ALL
    SELECT 'pkg:golang/golang.org/x/' || name ||
             (CASE WHEN k % 8 = 3 THEN '@v1.2' ELSE '@1.2' END),
           'depsdev',
           'golang.org%2Fx%2F' || name,
           CASE WHEN k % 8 = 3 THEN 'v1.2' ELSE '1.2' END,
           'https://api.deps.dev/v3/systems/GO/packages/golang.org%2Fx%2F'
             || name || '/versions/v1.2'
    FROM base WHERE k % 4 = 3
    """,
)
def x_golang_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golang collect routing (collectors3.py::golang_route_cols —
    reference collectors/golang.py:33-65, 88-100, 171-366): github purl
    rewrite, gitlab full-path percent-encoding, bitbucket two-segment
    API path, deps.dev fallback with the v-prefix rule."""
    from purldb_spark.sources.collectors3 import golang_route_cols

    b = part_packages(spark, sf_dir)
    k, name = S.col("k"), S.col("name")
    purl = (
        S.when(
            k % 4 == 0,
            S.concat(
                "pkg:golang/github.com/org-", name, "/", name,
                "/v2@2.1.", k.cast("string"),
            ),
        )
        .when(
            k % 4 == 1,
            S.concat(
                "pkg:golang/gitlab.com/grp-", name, "/sub/", name,
                "@v1.", k.cast("string"),
            ),
        )
        .when(
            k % 4 == 2,
            S.concat(
                "pkg:golang/bitbucket.org/team-", name, "/", name,
                "@0.", k.cast("string"),
            ),
        )
        .otherwise(
            S.concat(
                "pkg:golang/golang.org/x/", name,
                S.when(k % 8 == 3, "@v1.2").otherwise("@1.2"),
            )
        )
    )
    docs = S.sel(b, purl.alias("purl"))
    return docs.select("purl", *golang_route_cols(F.col("purl")))
