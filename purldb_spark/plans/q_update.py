"""update_packages intake query (reference packagedb/api.py:520-591
PackageUpdateSet, registered at purldb/urls.py:45). The endpoint takes
(purl, content_type) items plus an optional package-set uuid:

* a uuid naming no existing PackageSet rejects the request with the literal
  ``"No Package Set found for {uuid}"`` message (api.py:560-562);
* an item whose purl already matches a catalog package is passed through
  untouched with update_status ``"Already Exists"`` (api.py:573-574);
* otherwise a stub package is created from the purl lookups with
  ``download_url = " "`` and the item's PackageContentType value, added to
  the given set (or a freshly created one), update_status ``"Updated"``
  (api.py:576-585).

Spark shape: parse the purl into field columns (the same lookups
purl_to_lookups builds, packageurl field equality), one broadcast semi/anti
join against the catalog on (type, name, version), one broadcast lookup of
the set uuid — map-side only, no wide shuffle; at 100 TB of request logs the
catalog side is the big table and the join key (type, name, version) is its
natural bucketing key. Requests and catalog rows use the `part_packages`
name/version."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purldb_spark.catalog.tables import load
from purldb_spark.plans import sqltext as S
from purldb_spark.plans.part_packages import NAME, PART_PACKAGES_SQL, VER
from purldb_spark.plans.registry import query

# PackageContentType (packagedb/models.py:438-449): name -> integer value
_CONTENT_TYPES = [
    "CURATION",
    "PATCH",
    "SOURCE_REPO",
    "SOURCE_ARCHIVE",
    "BINARY",
    "TEST",
    "DOC",
]

_CT_NAME_SQL = (
    "["
    + ", ".join(f"'{n}'" for n in _CONTENT_TYPES)
    + "][(k % 7) + 1]"
)


@query(
    "x_update_packages",
    oracle=f"""
    WITH base AS ({PART_PACKAGES_SQL}),
    req AS (
      SELECT k, 'pkg:npm/' || name || '@' || ver AS purl,
             {_CT_NAME_SQL} AS content_type,
             CASE WHEN k % 5 = 0 THEN 'set-' || CAST(k AS VARCHAR)
                  WHEN k % 5 = 4 THEN 'feed-' || CAST(k AS VARCHAR)
             END AS set_uuid
      FROM base
    )
    SELECT k AS request_id, CAST(NULL AS VARCHAR) AS purl,
           'No Package Set found for feed-' || CAST(k AS VARCHAR)
             AS update_status,
           CAST(NULL AS BIGINT) AS package_content,
           CAST(NULL AS VARCHAR) AS download_url,
           CAST(NULL AS VARCHAR) AS set_uuid
    FROM req WHERE k % 5 = 4
    UNION ALL
    SELECT k, purl, 'Already Exists',
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM req WHERE k % 5 <> 4 AND k % 3 = 0
    UNION ALL
    SELECT k, purl, 'Updated', CAST((k % 7) + 1 AS BIGINT), ' ',
           CASE WHEN k % 5 = 0 THEN 'set-' || CAST(k AS VARCHAR)
                ELSE 'new-' || CAST(k AS VARCHAR) END
    FROM req WHERE k % 5 <> 4 AND k % 3 <> 0
    """,
)
def x_update_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/api/update_packages as a batch pass: k%5=4 carries an unknown set
    uuid (request rejected with the api.py:561 message); remaining items
    match the catalog when k%3=0 (purls parsed to field lookups, equality
    on type/name/version) -> 'Already Exists'; the rest create stub
    packages (download_url ' ', PackageContentType value) in the given
    (k%5=0) or a fresh set -> 'Updated'."""
    p = load(spark, sf_dir, "part")
    k = S.col("p_partkey")
    ct_names = S.array(*_CONTENT_TYPES)
    req = S.sel(
        p,
        k.cast("long").alias("request_id"),
        S.concat("pkg:npm/", NAME, "@", VER).alias("purl"),
        S.fn("element_at", ct_names, (k % 7 + 1).cast("int")).alias(
            "content_type"
        ),
        S.when(k % 5 == 0, S.concat("set-", k.cast("string")))
        .when(k % 5 == 4, S.concat("feed-", k.cast("string")))
        .alias("set_uuid"),
    )
    # catalog + package-set fixtures (field columns, as packagedb stores them)
    catalog = S.sel(
        p.filter((k % 3 == 0).sql),
        S.lit("npm").alias("c_type"),
        NAME.alias("c_name"),
        VER.alias("c_version"),
    )
    sets = S.sel(
        p.filter((k % 5 == 0).sql),
        S.concat("set-", k.cast("string")).alias("known_set"),
    )

    # purl -> lookups, column-side (the purl_to_lookups field split)
    parsed = req.selectExpr(
        "*",
        r"regexp_extract(purl, '^pkg:([^/]+)/', 1) AS r_type",
        r"regexp_extract(purl, '^pkg:[^/]+/([^@]+)@', 1) AS r_name",
        "regexp_extract(purl, '@(.+)$', 1) AS r_version",
    )
    with_set = parsed.join(
        F.broadcast(sets), parsed["set_uuid"] == sets["known_set"], "left"
    )
    # no broadcast hint on the catalog side: it is the big table at 100 TB
    # (the docstring's own framing), and `in_catalog` is O(requests) — let
    # AQE pick the build side at runtime for both joins
    in_catalog = (
        parsed.join(
            catalog,
            (F.col("r_type") == F.col("c_type"))
            & (F.col("r_name") == F.col("c_name"))
            & (F.col("r_version") == F.col("c_version")),
            "left_semi",
        )
        .select(F.col("request_id").alias("hit_id"))
    )
    out = with_set.join(
        in_catalog,
        with_set["request_id"] == in_catalog["hit_id"],
        "left",
    )
    set_missing = F.col("set_uuid").isNotNull() & F.col("known_set").isNull()
    exists = F.col("hit_id").isNotNull()
    content_val = F.expr(
        f"CAST(array_position({ct_names.sql}, content_type) AS BIGINT)"
    )
    return out.select(
        "request_id",
        F.when(~set_missing, F.col("purl")).alias("purl"),
        F.when(
            set_missing,
            F.concat(F.lit("No Package Set found for "), F.col("set_uuid")),
        )
        .when(exists, F.lit("Already Exists"))
        .otherwise(F.lit("Updated"))
        .alias("update_status"),
        F.when(~set_missing & ~exists, content_val).alias("package_content"),
        F.when(~set_missing & ~exists, F.lit(" ")).alias("download_url"),
        F.when(
            ~set_missing & ~exists,
            F.coalesce(
                F.col("known_set"),
                F.concat(F.lit("new-"), F.col("request_id").cast("string")),
            ),
        ).alias("set_uuid"),
    )


# ---------------------------------------------------------------------------
# PackageActivity inbox listener (reference packagedb/api.py:1393-1411
# PackageActivityListenerView, registered at purldb/urls.py via
# /api/users/@purldb/inbox; store = packagedb/models.py:1514-1530
# PackageActivity, serializer packagedb/serializers.py:548-560).
#
# The endpoint receives ActivityPub "Create" messages whose object Note
# carries (author, content, update_date) — see the reference's own fixture
# packagedb/tests/test_api.py:1620-1652.  A message is stored only when its
# type lower-cases to "create" AND the note content is non-empty; anything
# else is answered with the literal {"error": "Invalid JSON"} body.
# ---------------------------------------------------------------------------

# the JSON template both engines build, then PARSE with their native JSON
# functions ('\n' stays a 2-char escape in the payload; parsing makes it a
# real newline, exactly like the reference fixture's YAML note content)
_ACT_PURL_SQL = (
    "'pkg:npm/lib-' || CAST(k % 97 AS VARCHAR) || '@1.' "
    "|| CAST(k % 7 AS VARCHAR) || '.0'"
)
_ACT_TYPE_SQL = (
    "CASE WHEN k % 4 = 0 THEN 'Create' WHEN k % 4 = 1 THEN 'create' "
    "WHEN k % 4 = 2 THEN 'Update' ELSE 'Create' END"
)
_ACT_CONTENT_SQL = (
    "CASE WHEN k % 4 = 3 THEN '' ELSE "
    "'purl: ' || purl || '\\nscans:\\n  - tool: pkg:pypi/scancode-toolkit"
    "\\n    file_name: scancodeio.json\\n' END"
)
_ACT_DATE_SQL = (
    "'2024-12-' || lpad(CAST((k % 28) + 1 AS VARCHAR), 2, '0') "
    "|| ' 10:49:26.201915+00:00'"
)
_ACT_PAYLOAD_SQL = (
    "'{\"@context\": [\"https://www.w3.org/ns/activitystreams\", "
    "\"https://www.aboutcode.org/ns/federatedcode\"], "
    "\"type\": \"' || msg_type || '\", "
    "\"actor\": {\"type\": \"Package\", \"purl\": \"' || purl || '\"}, "
    "\"object\": {\"type\": \"Note\", \"author\": \"' || purl "
    "|| '@federation.example.org\", \"content\": \"' || content "
    "|| '\", \"update_date\": \"' || update_date || '\"}}'"
)


@query(
    "x_package_activity",
    oracle=f"""
    WITH base AS (
      SELECT event_id AS k FROM events
    ),
    note AS (
      SELECT k, {_ACT_PURL_SQL} AS purl, {_ACT_TYPE_SQL} AS msg_type
      FROM base
    ),
    msg AS (
      SELECT k, purl, msg_type,
             {_ACT_CONTENT_SQL} AS content, {_ACT_DATE_SQL} AS update_date
      FROM note
    ),
    payload AS (
      SELECT k, {_ACT_PAYLOAD_SQL} AS body FROM msg
    ),
    parsed AS (
      SELECT k,
             json_extract_string(body, '$.type') AS p_type,
             json_extract_string(body, '$.object.author') AS p_author,
             json_extract_string(body, '$.object.content') AS p_content,
             json_extract_string(body, '$.object.update_date') AS p_date
      FROM payload
    )
    SELECT k AS request_id, 'stored' AS status,
           CAST(NULL AS VARCHAR) AS error,
           p_author AS author, p_content AS content,
           p_date AS activity_update_date, FALSE AS is_processed
    FROM parsed
    WHERE lower(p_type) = 'create' AND p_content <> ''
    UNION ALL
    SELECT k, 'error', 'Invalid JSON',
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), FALSE
    FROM parsed
    WHERE NOT (lower(p_type) = 'create' AND p_content <> '')
    """,
)
def x_package_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federation inbox as a batch pass over an inbound-message log: build
    the ActivityPub payload per event, parse it back with JSON-path
    extraction (the listener never trusts pre-parsed fields), store rows
    whose type lower-cases to 'create' with non-empty note content
    (api.py:1400-1406), answer 'Invalid JSON' otherwise (api.py:1408-1411).
    Map-only: at 100 TB of federation traffic this is a scan->project
    pipeline with no shuffle; the store append is the only write."""
    ev = load(spark, sf_dir, "events")
    k = S.col("event_id")
    purl = S.concat(
        "pkg:npm/lib-",
        (k % 97).cast("string"),
        "@1.",
        (k % 7).cast("string"),
        ".0",
    )
    msg_type = (
        S.when(k % 4 == 0, "Create")
        .when(k % 4 == 1, "create")
        .when(k % 4 == 2, "Update")
        .otherwise("Create")
    )
    content = S.when(k % 4 == 3, "").otherwise(
        S.concat(
            "purl: ",
            purl,
            "\\nscans:\\n  - tool: pkg:pypi/scancode-toolkit"
            "\\n    file_name: scancodeio.json\\n",
        )
    )
    update_date = S.concat(
        "2024-12-",
        S.fn("lpad", ((k % 28) + 1).cast("string"), 2, "0"),
        " 10:49:26.201915+00:00",
    )
    body = S.concat(
        '{"@context": ["https://www.w3.org/ns/activitystreams", '
        '"https://www.aboutcode.org/ns/federatedcode"], '
        '"type": "',
        msg_type,
        '", "actor": {"type": "Package", "purl": "',
        purl,
        '"}, "object": {"type": "Note", "author": "',
        purl,
        '@federation.example.org", "content": "',
        content,
        '", "update_date": "',
        update_date,
        '"}}',
    )
    parsed = S.sel(
        S.sel(ev, k.cast("long").alias("request_id"), body.alias("body")),
        "request_id",
        S.fn("get_json_object", S.col("body"), "$.type").alias("p_type"),
        S.fn("get_json_object", S.col("body"), "$.object.author").alias(
            "p_author"
        ),
        S.fn("get_json_object", S.col("body"), "$.object.content").alias(
            "p_content"
        ),
        S.fn("get_json_object", S.col("body"), "$.object.update_date").alias(
            "p_date"
        ),
    )
    ok = (F.lower(F.col("p_type")) == "create") & (F.col("p_content") != "")
    return parsed.select(
        "request_id",
        F.when(ok, F.lit("stored")).otherwise(F.lit("error")).alias("status"),
        F.when(~ok, F.lit("Invalid JSON")).alias("error"),
        F.when(ok, F.col("p_author")).alias("author"),
        F.when(ok, F.col("p_content")).alias("content"),
        F.when(ok, F.col("p_date")).alias("activity_update_date"),
        # store default on every row: the model boolean is non-null
        F.lit(False).alias("is_processed"),
    )
