"""Crawl-operator plans with DuckDB oracles.

The crawl engine's core operators (URL canonicalization, politeness window
rank, first-wins dedup, URL-seen anti-join) re-expressed over a frontier
DERIVED from the driver's orders table with SQL-expressible transforms, so
the driver's DuckDB gate checks them end-to-end. The engine's own
Bloom/round-loop paths are checked by the oracle tests in
tests/test_crawl_round.py (non-SQL-expressible; rows-only entries below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_crawler_spark.functions.urls import canonicalize_url_col, host_col

HOST_BUDGET = 5


def frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy raw URLs derived from orders: mixed-case host, unsorted query
    keys, tracking params on every 3rd row (FIXTURES.md §2 shape)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    url = F.concat(
        F.lit("https://Board"),
        (F.col("o_orderkey") % 7),
        F.lit(".Example.com/jobs/"),
        F.col("o_orderkey"),
        F.lit("?b="),
        (F.col("o_orderkey") % 3),
        F.lit("&a=1"),
        F.when((F.col("o_orderkey") % 3) == 0, F.lit("&utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    priority = ((F.col("o_orderkey") * 1103515245) % 64) / 64.0
    from job_crawler_spark.functions.compat import spread

    # spread: the orders fixture is a single-row-group file (1 scan
    # task), and every consumer of this frame immediately runs the regex
    # canonicalizer over it — see functions/compat.spread
    return spread(
        orders.select(
            F.col("o_orderkey").alias("id"),
            url.alias("url"),
            priority.alias("priority"),
        )
    )


FRONTIER_SQL = """
    SELECT o_orderkey AS id,
           'https://Board' || CAST(o_orderkey % 7 AS VARCHAR)
             || '.Example.com/jobs/' || CAST(o_orderkey AS VARCHAR)
             || '?b=' || CAST(o_orderkey % 3 AS VARCHAR) || '&a=1'
             || CASE WHEN o_orderkey % 3 = 0 THEN '&utm_source=feed' ELSE '' END
             AS url,
           (o_orderkey * 1103515245) % 64 / 64.0 AS priority
    FROM orders
"""

# DuckDB replica of functions/urls.py canonicalization (same regexes,
# same tracking-key rules, same sort).
_CANON_SQL = """
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) || '://'
    || lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1))
    || CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) = ''
            THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) END
    || CASE WHEN array_to_string(list_sort(list_filter(
              string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
              p -> len(p) > 0 AND NOT starts_with(string_split(p, '=')[1], 'utm_')
                   AND NOT list_contains(
                       ['fbclid','gclid','msclkid','mc_cid','mc_eid','ref',
                        'sessionid','sid','trk'], string_split(p, '=')[1]))), '&') = ''
            THEN ''
            ELSE '?' || array_to_string(list_sort(list_filter(
              string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
              p -> len(p) > 0 AND NOT starts_with(string_split(p, '=')[1], 'utm_')
                   AND NOT list_contains(
                       ['fbclid','gclid','msclkid','mc_cid','mc_eid','ref',
                        'sessionid','sid','trk'], string_split(p, '=')[1]))), '&')
       END
"""

_HOST_SQL = "lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1))"


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule canonicalization over the derived frontier."""
    f = frontier_df(spark, sf_dir)
    return f.select(
        "id",
        canonicalize_url_col(F.col("url")).alias("url_canon"),
        host_col(F.col("url")).alias("host"),
    )


Q_URL_CANON_SQL = f"""
    WITH f AS ({FRONTIER_SQL})
    SELECT id, {_CANON_SQL} AS url_canon, {_HOST_SQL} AS host FROM f
"""


def q_politeness_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: per-host budgeted window rank with the (priority DESC, url ASC)
    total order — the politeness priority queue as a plain query."""
    f = frontier_df(spark, sf_dir).select(
        canonicalize_url_col(F.col("url")).alias("url_canon"),
        host_col(F.col("url")).alias("host"),
        "priority",
    )
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url_canon").asc()
    )
    return (
        f.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= HOST_BUDGET)
        .orderBy("host", "host_rank")
    )


Q_POLITENESS_SQL = f"""
    WITH f AS ({FRONTIER_SQL}),
    c AS (SELECT {_CANON_SQL} AS url_canon, {_HOST_SQL} AS host, priority FROM f),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                ORDER BY priority DESC, url_canon ASC) AS host_rank
      FROM c
    )
    SELECT url_canon, host, priority, host_rank FROM ranked
    WHERE host_rank <= {HOST_BUDGET} ORDER BY host, host_rank
"""


def q_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/U2: first occurrence per dedup key in arrival order (id) — the
    reference's in-batch seen-set scan (main.py:517-525) as a window rank."""
    from job_crawler_spark.plans.relational import jobs_df

    jobs = jobs_df(spark, sf_dir)
    key = F.concat_ws(
        "_", F.lower(F.col("company")), F.lower(F.col("title"))
    )
    w = Window.partitionBy("dedup_key").orderBy(F.col("id").asc())
    return (
        jobs.withColumn("dedup_key", key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dedup_key", "id", "company", "title")
        .orderBy("dedup_key")
    )


def _first_wins_sql() -> str:
    from job_crawler_spark.plans.relational import JOBS_SQL

    return f"""
        WITH j AS ({JOBS_SQL}),
        k AS (SELECT *, lower(company) || '_' || lower(title) AS dedup_key FROM j),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY dedup_key
                      ORDER BY id ASC) AS rn FROM k)
        SELECT dedup_key, id, company, title FROM r WHERE rn = 1
        ORDER BY dedup_key
    """


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 exact path: frontier URLs not in the seen set (even ids are seen).

    When the seen set derives from the SAME scan, a self-anti-join would
    recompute the (expensive) canonicalization on both sides — Catalyst has
    no cross-join-side CSE. One canonicalization + one shuffle instead:
    mark each url_canon group that contains a seen member (max-over-window)
    and keep the unmarked rows. Against a real seen TABLE (url_canon
    pre-stored, e.g. the engine's), use anti_join_seen (operators/dedup.py)
    — left_anti == NOT EXISTS, broadcast when the seen side fits."""
    f = frontier_df(spark, sf_dir).select(
        "id", canonicalize_url_col(F.col("url")).alias("url_canon")
    )
    w = Window.partitionBy("url_canon")
    return (
        f.withColumn(
            "__seen", F.max((F.col("id") % 2 == 0).cast("int")).over(w)
        )
        .filter(F.col("__seen") == 0)
        .select("id", "url_canon")
        .orderBy("id")
    )


Q_SEEN_ANTIJOIN_SQL = f"""
    WITH f AS ({FRONTIER_SQL}),
    c AS (SELECT id, {_CANON_SQL} AS url_canon FROM f),
    seen AS (SELECT url_canon FROM c WHERE id % 2 = 0)
    SELECT id, url_canon FROM c
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url_canon = c.url_canon)
    ORDER BY id
"""


def trap_frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic trap-mix frontier derived from orders: 3 calendar-trap
    hosts (unbounded digit-templated paths), 2 session-id hosts (constant
    path, per-URL query), 5 benign hosts (bounded path set). 10 and 3/2/5
    are coprime-enough that every host sees its full bucket at any scale."""
    k = F.col("o_orderkey")
    cal = F.concat(
        F.lit("https://trap"),
        k % 3,
        F.lit(".example.com/cal/2024/"),
        k % 12 + 1,
        F.lit("/"),
        k % 28 + 1,
        F.lit("/event-"),
        k,
    )
    sess = F.concat(
        F.lit("https://sess"),
        k % 2,
        F.lit(".example.com/jobs/list?s="),
        (k * 2654435761) % 1000000007,
    )
    ok = F.concat(
        F.lit("https://ok"),
        k % 5,
        F.lit(".example.com/jobs/"),
        k % 20,
        F.lit("?b="),
        k % 3,
    )
    bucket = k % 10
    url = F.when(bucket <= 2, cal).when(bucket <= 4, sess).otherwise(ok)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.select(k.alias("id"), url.alias("url"))


TRAP_FRONTIER_SQL = """
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 10 <= 2 THEN
                  'https://trap' || CAST(o_orderkey % 3 AS VARCHAR)
                  || '.example.com/cal/2024/'
                  || CAST(o_orderkey % 12 + 1 AS VARCHAR) || '/'
                  || CAST(o_orderkey % 28 + 1 AS VARCHAR)
                  || '/event-' || CAST(o_orderkey AS VARCHAR)
                WHEN o_orderkey % 10 <= 4 THEN
                  'https://sess' || CAST(o_orderkey % 2 AS VARCHAR)
                  || '.example.com/jobs/list?s='
                  || CAST((o_orderkey * 2654435761) % 1000000007 AS VARCHAR)
                ELSE
                  'https://ok' || CAST(o_orderkey % 5 AS VARCHAR)
                  || '.example.com/jobs/'
                  || CAST(o_orderkey % 20 AS VARCHAR)
                  || '?b=' || CAST(o_orderkey % 3 AS VARCHAR)
           END AS url
    FROM orders
"""


def q_url_trap_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (operators/traps.py) over the deterministic
    trap-mix frontier: per-host URL-space explosion signals + integer-exact
    flag. Expected shape at every gate scale: 10 hosts, the 3 trap* and
    2 sess* hosts flagged, the 5 ok* hosts clean."""
    from job_crawler_spark.operators.traps import url_trap_signals

    return url_trap_signals(trap_frontier_df(spark, sf_dir)).orderBy("host")


_TRAP_PATH_SQL = (
    "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)"
)
_TRAP_QUERY_SQL = "regexp_extract(url, '\\?([^#]*)', 1)"


def _url_trap_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    return f"""
        WITH f AS ({TRAP_FRONTIER_SQL}),
        parts AS (
          SELECT {_HOST_SQL} AS host,
                 {_TRAP_PATH_SQL} AS path,
                 {_TRAP_QUERY_SQL} AS query
          FROM f
        ),
        pre AS (
          SELECT host, path, query, COUNT(*) AS cnt
          FROM parts WHERE host <> '' GROUP BY host, path, query
        ),
        sig AS (
          SELECT host,
                 CAST(SUM(cnt) AS BIGINT) AS n_urls,
                 COUNT(DISTINCT path) AS n_paths,
                 COUNT(DISTINCT regexp_replace(path, '[0-9]+', 'N', 'g'))
                   AS n_templates,
                 COUNT(DISTINCT query) AS n_queries,
                 CAST(MAX(len(list_filter(string_split(path, '/'),
                                          x -> x <> ''))) AS INTEGER)
                   AS max_depth
          FROM pre GROUP BY host
        )
        SELECT host, n_urls, n_paths, n_templates, n_queries, max_depth,
               {stable_round_sql("n_paths * 1.0 / n_urls", 6)}
                 AS path_diversity,
               {stable_round_sql("n_templates * 1.0 / n_paths", 6)}
                 AS template_collapse,
               {stable_round_sql("n_queries * 1.0 / n_urls", 6)}
                 AS query_diversity,
               (n_urls >= 20 AND (
                  (2 * n_paths >= n_urls AND 10 * n_templates <= n_paths
                   AND max_depth >= 3)
                  OR 2 * n_queries >= n_urls)) AS is_trap
        FROM sig ORDER BY host
    """


def sitemap_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-host sitemap XML documents built from orders: one
    sitemap per ok{0..4}.example.com host, entries ordered by orderkey.
    Every 4th entry omits <lastmod>, every 7th omits <priority>, every
    11th is malformed (no <loc>, must be dropped with a seq gap); <loc>
    hosts are mixed-case so canonicalization is non-vacuous."""
    k = F.col("o_orderkey")
    host = F.concat(
        F.lit("ok"), (k % 5).cast("string"), F.lit(".example.com")
    )
    loc = F.concat(
        F.lit("<loc>https://Ok"),
        (k % 5).cast("string"),
        F.lit(".Example.com/jobs/"),
        k.cast("string"),
        F.lit("?b="),
        (k % 3).cast("string"),
        F.lit("</loc>"),
    )
    lastmod = F.when(
        k % 4 != 0,
        F.concat(
            F.lit("<lastmod>"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    prio = F.when(
        k % 7 != 0,
        F.concat(
            F.lit("<priority>0."),
            (k % 10).cast("string"),
            F.lit("</priority>"),
        ),
    ).otherwise(F.lit(""))
    entry = F.when(
        k % 11 == 0, F.concat(F.lit("<url>"), lastmod, F.lit("</url>"))
    ).otherwise(
        F.concat(F.lit("<url>"), loc, lastmod, prio, F.lit("</url>"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.select(host.alias("host"), k.alias("k"), entry.alias("e"))
        .groupBy("host")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "e"))),
                    lambda x: x["e"],
                ),
                "",
            ).alias("sitemap_xml")
        )
    )


_SITEMAP_ENTRY_SQL = """
          SELECT 'ok' || CAST(o_orderkey % 5 AS VARCHAR) || '.example.com'
                   AS host,
                 o_orderkey AS k,
                 CASE WHEN o_orderkey % 11 = 0 THEN
                        '<url>'
                        || CASE WHEN o_orderkey % 4 <> 0 THEN
                             '<lastmod>' || strftime(o_orderdate, '%Y-%m-%d')
                             || '</lastmod>' ELSE '' END
                        || '</url>'
                      ELSE
                        '<url><loc>https://Ok'
                        || CAST(o_orderkey % 5 AS VARCHAR)
                        || '.Example.com/jobs/'
                        || CAST(o_orderkey AS VARCHAR)
                        || '?b=' || CAST(o_orderkey % 3 AS VARCHAR)
                        || '</loc>'
                        || CASE WHEN o_orderkey % 4 <> 0 THEN
                             '<lastmod>' || strftime(o_orderdate, '%Y-%m-%d')
                             || '</lastmod>' ELSE '' END
                        || CASE WHEN o_orderkey % 7 <> 0 THEN
                             '<priority>0.'
                             || CAST(o_orderkey % 10 AS VARCHAR)
                             || '</priority>' ELSE '' END
                        || '</url>'
                 END AS e
          FROM orders
"""


def q_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (sources/sitemaps.py): per-host sitemap XML ->
    ordered candidate rows with canonicalized URLs and freshness hints.
    Malformed entries (no <loc>) leave seq gaps; missing <lastmod> /
    <priority> surface as NULLs."""
    from job_crawler_spark.functions.compat import spread
    from job_crawler_spark.sources.sitemaps import parse_sitemap_entries

    # the fixture is ONE sitemap document per host (5 rows), so the parse
    # explode and everything above the final sort would run on <= 5 tasks;
    # spread the exploded entries so the per-row canonicalizer runs wide
    # (functions/compat.spread — the operator itself stays shuffle-free)
    rows = spread(parse_sitemap_entries(sitemap_docs_df(spark, sf_dir)))
    return rows.select(
        "host",
        "seq",
        "loc",
        canonicalize_url_col(F.col("loc")).alias("url_canon"),
        # gate-stable NULLs: a nullable DATE column stringifies as None
        # (Spark/Arrow date-as-object) vs NaT (DuckDB datetime64) in the
        # compare harness — emit ISO strings on both sides; the source
        # operator itself keeps the real DATE type
        F.date_format("lastmod", "yyyy-MM-dd").alias("lastmod"),
        "priority",
    ).orderBy("host", "seq")


def _sitemap_ingest_sql() -> str:
    canon = _CANON_SQL.replace("url,", "loc,").replace("(url)", "(loc)")
    return f"""
        WITH ent AS ({_SITEMAP_ENTRY_SQL}),
        x AS (
          SELECT host, string_agg(e, '' ORDER BY k) AS xml
          FROM ent GROUP BY host
        ),
        u AS (
          SELECT host,
                 unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1))
                   AS entry,
                 generate_subscripts(
                   regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1), 1)
                   AS seq
          FROM x
        ),
        f AS (
          SELECT host, CAST(seq AS INTEGER) AS seq,
                 nullif(trim(regexp_extract(
                   entry, '<loc>([^<]*)</loc>', 1)), '') AS loc,
                 TRY_CAST(substr(nullif(trim(regexp_extract(
                   entry, '<lastmod>([^<]*)</lastmod>', 1)), ''), 1, 10)
                   AS DATE) AS lastmod,
                 TRY_CAST(nullif(trim(regexp_extract(
                   entry, '<priority>([^<]*)</priority>', 1)), '')
                   AS DOUBLE) AS priority
          FROM u
        )
        SELECT host, seq, loc, {canon} AS url_canon,
               strftime(lastmod, '%Y-%m-%d') AS lastmod, priority
        FROM f WHERE loc IS NOT NULL
        ORDER BY host, seq
    """


def robots_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic robots.txt corpus from nation: 25 hosts, every doc
    carries a decoy FancyBot group (deny-all, delay 99) that a correct
    parser must ignore; the ``*`` group varies per key — deny pairs
    (n%4==0), an extra Allow (n%3==0), an empty Disallow that must be
    dropped (n%6==0), an explicit Crawl-delay (n%5==0) — and every 7th-ish
    host (n%7==3) has NO ``*`` group at all (default-rules path)."""
    n = F.col("n_nationkey")
    host = F.concat(F.lit("h"), n.cast("string"), F.lit(".example.com"))
    nl = F.lit("\n")
    star = F.concat(
        F.lit("User-agent: *\n"),
        F.when(
            n % 4 == 0, F.lit("Disallow: /private\nDisallow: /admin\n")
        ).otherwise(F.lit("")),
        F.when(n % 3 == 0, F.lit("Allow: /jobs\n")).otherwise(F.lit("")),
        F.lit("Allow: /\n"),
        F.when(n % 6 == 0, F.lit("Disallow:\n")).otherwise(F.lit("")),
        F.when(
            n % 5 == 0,
            F.concat(
                F.lit("Crawl-delay: "), (n % 7 + 1).cast("string"), nl
            ),
        ).otherwise(F.lit("")),
    )
    txt = F.concat(
        F.lit("# robots for "),
        host,
        nl,
        F.lit("User-agent: FancyBot\nDisallow: /\nCrawl-delay: 99\n\n"),
        F.when(n % 7 == 3, F.lit("")).otherwise(star),
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nation.select(host.alias("host"), txt.alias("robots_txt"))


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing (sources/robots.py) exploded to scalar rule rows:
    one (host, kind, pos, value) per Allow/Disallow prefix in document
    order plus one crawl-delay row per host with the resolved delay
    (explicit group value or the scheduler default 1)."""
    from job_crawler_spark.sources.robots import parse_robots

    r = parse_robots(robots_docs_df(spark, sf_dir))
    a = r.select(
        "host", F.posexplode("allow").alias("p0", "value")
    ).select(
        "host",
        F.lit("allow").alias("kind"),
        (F.col("p0") + 1).alias("pos"),
        "value",
    )
    d = r.select(
        "host", F.posexplode("deny").alias("p0", "value")
    ).select(
        "host",
        F.lit("deny").alias("kind"),
        (F.col("p0") + 1).alias("pos"),
        "value",
    )
    c = r.select(
        "host",
        F.lit("crawl-delay").alias("kind"),
        F.lit(1).alias("pos"),
        F.col("crawl_delay").cast("string").alias("value"),
    )
    return a.unionAll(d).unionAll(c).orderBy("host", "kind", "pos")


def _robots_rules_sql() -> str:
    return """
        WITH n AS (
          SELECT n_nationkey AS n,
                 'h' || CAST(n_nationkey AS VARCHAR) || '.example.com'
                   AS host
          FROM nation
        ),
        t AS (
          SELECT host,
                 '# robots for ' || host || chr(10)
                 || 'User-agent: FancyBot' || chr(10) || 'Disallow: /'
                 || chr(10) || 'Crawl-delay: 99' || chr(10) || chr(10)
                 || CASE WHEN n % 7 = 3 THEN '' ELSE
                      'User-agent: *' || chr(10)
                      || CASE WHEN n % 4 = 0 THEN
                           'Disallow: /private' || chr(10)
                           || 'Disallow: /admin' || chr(10) ELSE '' END
                      || CASE WHEN n % 3 = 0 THEN
                           'Allow: /jobs' || chr(10) ELSE '' END
                      || 'Allow: /' || chr(10)
                      || CASE WHEN n % 6 = 0 THEN
                           'Disallow:' || chr(10) ELSE '' END
                      || CASE WHEN n % 5 = 0 THEN
                           'Crawl-delay: ' || CAST(n % 7 + 1 AS VARCHAR)
                           || chr(10) ELSE '' END
                    END AS txt
          FROM n
        ),
        grp AS (
          SELECT host,
                 list_filter(
                   regexp_split_to_array(replace(txt, chr(13), ''),
                                         '(?i)User-agent:'),
                   s -> lower(trim(string_split(s, chr(10))[1])) = '*'
                 )[1] AS body
          FROM t
        ),
        ln AS (
          SELECT host, string_split(coalesce(body, ''), chr(10)) AS ls
          FROM grp
        ),
        rules AS (
          SELECT host, 'allow' AS kind,
                 list_filter(list_transform(ls, l ->
                   regexp_extract(l, '(?i)^\\s*allow:\\s*(\\S*)', 1)),
                   v -> v <> '') AS vals
          FROM ln
          UNION ALL
          SELECT host, 'deny',
                 list_filter(list_transform(ls, l ->
                   regexp_extract(l, '(?i)^\\s*disallow:\\s*(\\S*)', 1)),
                   v -> v <> '')
          FROM ln
        ),
        exploded AS (
          SELECT host, kind,
                 CAST(generate_subscripts(vals, 1) AS INTEGER) AS pos,
                 unnest(vals) AS value
          FROM rules
        ),
        delay AS (
          SELECT host, 'crawl-delay' AS kind, 1 AS pos,
                 CAST(COALESCE(TRY_CAST(
                   list_filter(list_transform(ls, l ->
                     regexp_extract(l, '(?i)^\\s*crawl-delay:\\s*(\\S*)',
                                    1)), v -> v <> '')[1]
                   AS INTEGER), 1) AS VARCHAR) AS value
          FROM ln
        )
        SELECT host, kind, pos, value FROM exploded
        UNION ALL
        SELECT host, kind, pos, value FROM delay
        ORDER BY host, kind, pos
    """


def fetch_history_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-URL fetch history derived from lineitem: each
    order is a URL, each of its 1-7 line numbers a fetch round, and the
    content version steps through ``(l_orderkey + parity * round//3) % 4``
    — so even orderkeys never change after discovery (pure stable streak)
    while odd orderkeys change at rounds 3 and 6 (streak reset), giving
    the revisit scheduler every mix of change histories at every gate
    scale.

    The driver's synthetic lineitem carries duplicate (l_orderkey,
    l_linenumber) pairs; the trailing distinct (rows are identical by
    construction, so it is deterministic) restores the operator's
    one-row-per-(URL, round) contract."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    version = (
        F.col("l_orderkey")
        + (F.col("l_orderkey") % 2) * F.expr("l_linenumber DIV 3")
    ) % 4
    return li.select(
        F.concat(
            F.lit("https://board"),
            (F.col("l_orderkey") % 7).cast("string"),
            F.lit(".example.com/jobs/"),
            F.col("l_orderkey").cast("string"),
        ).alias("url_canon"),
        F.col("l_linenumber").cast("int").alias("round"),
        F.concat(F.lit("v"), version.cast("string")).alias("content_hash"),
    ).distinct()


FETCH_HISTORY_SQL = """
    SELECT DISTINCT 'https://board' || CAST(l_orderkey % 7 AS VARCHAR)
             || '.example.com/jobs/' || CAST(l_orderkey AS VARCHAR)
             AS url_canon,
           CAST(l_linenumber AS INTEGER) AS round,
           'v' || CAST((l_orderkey + (l_orderkey % 2) * (l_linenumber // 3))
                       % 4 AS VARCHAR) AS content_hash
    FROM lineitem
"""

#: Gate constants for the revisit schedule (current round sits just past
#: the max fetch round so both due and not-due rows exist at every scale).
REVISIT_NOW = 9
REVISIT_BASE = 1
REVISIT_MAX = 8


def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven revisit scheduling (operators/revisit.py): adaptive
    recrawl intervals from observed per-URL change history — interval
    doubles per consecutive unchanged fetch, resets on change, capped at
    REVISIT_MAX; due rows are the force_recrawl victims at round 9."""
    from job_crawler_spark.operators.revisit import revisit_schedule

    out = revisit_schedule(
        fetch_history_df(spark, sf_dir),
        REVISIT_NOW,
        base_interval=REVISIT_BASE,
        max_interval=REVISIT_MAX,
    )
    return out.withColumnRenamed("interval", "revisit_interval").orderBy(
        "url_canon"
    )


def _revisit_sql() -> str:
    streak = "n_fetches - COALESCE(last_chg_seq, 1)"
    interval = (
        f"CAST(LEAST({REVISIT_BASE} * CAST(POWER(2, LEAST({streak}, 20)) "
        f"AS BIGINT), {REVISIT_MAX}) AS INTEGER)"
    )
    return f"""
        WITH h AS ({FETCH_HISTORY_SQL}),
        f AS (
          SELECT url_canon, round,
                 ROW_NUMBER() OVER w AS seq,
                 (LAG(content_hash) OVER w IS NOT NULL
                  AND content_hash <> LAG(content_hash) OVER w) AS chg
          FROM h
          WINDOW w AS (PARTITION BY url_canon ORDER BY round)
        ),
        a AS (
          SELECT url_canon,
                 CAST(COUNT(*) AS INTEGER) AS n_fetches,
                 CAST(COALESCE(SUM(CASE WHEN chg THEN 1 ELSE 0 END), 0)
                      AS INTEGER) AS n_changes,
                 MAX(round) AS last_round,
                 MIN(round) AS first_round,
                 MAX(CASE WHEN chg THEN round END) AS last_chg_round,
                 MAX(CASE WHEN chg THEN seq END) AS last_chg_seq
          FROM f GROUP BY url_canon
        )
        SELECT url_canon, n_fetches, n_changes, last_round,
               COALESCE(last_chg_round, first_round) AS last_change_round,
               CAST({streak} AS INTEGER) AS stable_streak,
               {interval} AS revisit_interval,
               last_round + {interval} AS next_due,
               last_round + {interval} <= {REVISIT_NOW} AS due
        FROM a ORDER BY url_canon
    """


REDIRECT_MAX_HOPS = 8


def redirect_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic redirect edge set derived from orders (dense keys
    0..N-1): ``u/k -> u/(k-1)`` chains of length <= 4 terminating at
    multiples of 5, EXCEPT k = 28 mod 35 redirects FORWARD (``u/k ->
    u/(k+1)``) whose partner's k-1 rule points straight back — a 2-cycle
    — and k = 30 mod 35 (a multiple of 5 that would otherwise be final)
    feeds INTO that cycle, so the fixture has resolved chains (hops
    1..4), isolated loops, and unresolved feeder chains at every SF."""
    k = F.col("k")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k")
    ).distinct()
    dst_k = F.when((k % 5 == 3) & (k % 7 == 0), k + 1).otherwise(k - 1)
    return orders.filter((k % 5 != 0) | (k % 7 == 2)).select(
        F.concat(F.lit("u/"), k.cast("string")).alias("src"),
        F.concat(F.lit("u/"), dst_k.cast("string")).alias("dst"),
    )


REDIRECT_EDGES_SQL = """
    SELECT 'u/' || CAST(k AS VARCHAR) AS src,
           'u/' || CAST(CASE WHEN k % 5 = 3 AND k % 7 = 0 THEN k + 1
                             ELSE k - 1 END AS VARCHAR) AS dst
    FROM (SELECT DISTINCT o_orderkey AS k FROM orders)
    WHERE k % 5 <> 0 OR k % 7 = 2
"""


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/redirects.py): pointer
    doubling resolves every redirect source to its final URL in
    ceil(log2(max_hops)) = 3 self-joins; cycles and over-cap chains come
    back unresolved (NULL final/hops). The oracle is a DuckDB recursive
    CTE walking the same edges hop by hop."""
    from job_crawler_spark.operators.redirects import resolve_redirects

    res = resolve_redirects(
        redirect_edges_df(spark, sf_dir), max_hops=REDIRECT_MAX_HOPS
    )
    out = res.orderBy("src_url")
    out._graft_checkpoints = getattr(res, "_graft_checkpoints", [])
    return out


def _redirect_resolve_sql() -> str:
    return f"""
        WITH RECURSIVE
        edges AS ({REDIRECT_EDGES_SQL}),
        walk(src, cur, hops) AS (
          SELECT src, dst, 1 FROM edges
          UNION ALL
          SELECT w.src, e.dst, w.hops + 1
          FROM walk w JOIN edges e ON e.src = w.cur
          WHERE w.hops < {REDIRECT_MAX_HOPS}
        ),
        term AS (
          SELECT w.src, w.cur AS final_url, w.hops
          FROM walk w LEFT JOIN edges e ON e.src = w.cur
          WHERE e.src IS NULL
        )
        SELECT s.src AS src_url, t.final_url,
               CAST(t.hops AS INTEGER) AS hops,
               t.final_url IS NOT NULL AS resolved
        FROM (SELECT DISTINCT src FROM edges) s
        LEFT JOIN term t ON t.src = s.src
        ORDER BY src_url
    """


MIRROR_THRESHOLD = 0.4


def mirror_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mirrored-host layout over documents (doc_id is a
    dense int, every text unique): each doc lives on primary host
    ``m(id%7)``; even-id docs are ALSO served by mirror host
    ``m(id%7+7)``, so pairs (m_h, m_{h+7}) share exactly the even half
    of m_h's fingerprint set (Jaccard ~ 0.5) and every other host pair
    shares nothing."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("id"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
    )
    primary = d.select(
        F.concat(F.lit("m"), (F.col("id") % 7).cast("string")).alias("host"),
        "content_hash",
    )
    mirrored = d.filter(F.col("id") % 2 == 0).select(
        F.concat(F.lit("m"), (F.col("id") % 7 + 7).cast("string")).alias(
            "host"
        ),
        "content_hash",
    )
    return primary.unionAll(mirrored)


MIRROR_PAGES_SQL = """
    WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS h
               FROM documents)
    SELECT 'm' || CAST(id % 7 AS VARCHAR) AS host, h FROM d
    UNION ALL
    SELECT 'm' || CAST(id % 7 + 7 AS VARCHAR) AS host, h FROM d
    WHERE id % 2 = 0
"""


def q_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (operators/mirrors.py, Bharat-Broder):
    host pairs whose content-fingerprint sets overlap at Jaccard >= 0.4
    via ONE equi-join on the fingerprint; a crawler keeps one
    representative per pair and demotes the rest, like trap demotion."""
    from job_crawler_spark.operators.mirrors import mirror_pairs

    return mirror_pairs(
        mirror_pages_df(spark, sf_dir),
        hash_col="content_hash",
        threshold=MIRROR_THRESHOLD,
    ).orderBy("host_a", "host_b")


def _host_mirrors_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    jac = stable_round_sql("shared / (sa.n + sb.n - shared)", 6)
    return f"""
        WITH pages AS ({MIRROR_PAGES_SQL}),
        sets AS (SELECT DISTINCT host, h FROM pages),
        sizes AS (SELECT host, COUNT(*) AS n FROM sets GROUP BY host),
        shared AS (
          SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared
          FROM sets a JOIN sets b ON a.h = b.h AND a.host < b.host
          GROUP BY 1, 2
        )
        SELECT host_a, host_b, shared, sa.n AS n_a, sb.n AS n_b,
               {jac} AS jaccard
        FROM shared
        JOIN sizes sa ON sa.host = host_a
        JOIN sizes sb ON sb.host = host_b
        WHERE {jac} >= {MIRROR_THRESHOLD}
        ORDER BY host_a, host_b
    """


DUST_MIN_SUPPORT = 2
DUST_MIN_PRECISION = 0.95


def dust_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL-alias layout over documents (doc_id dense, text
    unique): every doc has a plain URL on host ``d(id%9)``; even ids add
    a ``?utm=1`` alias (same content — strippable), ids%3==0 add a
    ``?page=2`` variant with DIFFERENT content (page is load-bearing),
    ids%4==1 add ``?sid=9`` whose content matches only when id%8==1
    (precision 0.5 — rejected on precision, not support), and ids%6==0
    add a two-parameter ``?sess=k&utm=1`` alias PLUS its ``?sess=k``
    strip target, so multi-parameter removal is exercised in both
    engines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("id"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.md5(F.concat(F.col("text"), F.lit("p2")).cast("binary")).alias(
            "h2"
        ),
        F.md5(F.concat(F.col("text"), F.lit("sid")).cast("binary")).alias(
            "h3"
        ),
    )
    i = F.col("id")
    d = d.withColumn(
        "u",
        F.concat(
            F.lit("d"),
            (i % 9).cast("string"),
            F.lit("/p/"),
            i.cast("string"),
        ),
    )
    u, h = F.col("u"), F.col("h")
    sess = F.concat(F.lit("?sess="), (i % 7).cast("string"))
    return (
        d.select(u.alias("url"), h.alias("content_hash"))
        .unionAll(
            d.filter(i % 2 == 0).select(
                F.concat(u, F.lit("?utm=1")).alias("url"),
                h.alias("content_hash"),
            )
        )
        .unionAll(
            d.filter(i % 3 == 0).select(
                F.concat(u, F.lit("?page=2")).alias("url"),
                F.col("h2").alias("content_hash"),
            )
        )
        .unionAll(
            d.filter(i % 4 == 1).select(
                F.concat(u, F.lit("?sid=9")).alias("url"),
                F.when(i % 8 == 1, h).otherwise(F.col("h3")).alias(
                    "content_hash"
                ),
            )
        )
        .unionAll(
            d.filter(i % 6 == 0).select(
                F.concat(u, sess, F.lit("&utm=1")).alias("url"),
                h.alias("content_hash"),
            )
        )
        .unionAll(
            d.filter(i % 6 == 0).select(
                F.concat(u, sess).alias("url"), h.alias("content_hash")
            )
        )
    )


DUST_PAGES_SQL = """
    WITH raw_d AS (
      SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS h,
             md5(text || 'p2') AS h2, md5(text || 'sid') AS h3
      FROM documents
    ),
    b AS (
      SELECT id,
             'd' || CAST(id % 9 AS VARCHAR) || '/p/' || CAST(id AS VARCHAR)
               AS u,
             h, h2, h3
      FROM raw_d
    )
    SELECT u AS url, h FROM b
    UNION ALL
    SELECT u || '?utm=1', h FROM b WHERE id % 2 = 0
    UNION ALL
    SELECT u || '?page=2', h2 FROM b WHERE id % 3 = 0
    UNION ALL
    SELECT u || '?sid=9', CASE WHEN id % 8 = 1 THEN h ELSE h3 END
    FROM b WHERE id % 4 = 1
    UNION ALL
    SELECT u || '?sess=' || CAST(id % 7 AS VARCHAR) || '&utm=1', h
    FROM b WHERE id % 6 = 0
    UNION ALL
    SELECT u || '?sess=' || CAST(id % 7 AS VARCHAR), h
    FROM b WHERE id % 6 = 0
"""


def q_dust_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST rule mining (operators/dust.py, Bar-Yossef et al. WWW'07):
    learn which query parameters are safe to strip per host from the
    crawl's own (url, content_hash) evidence — each parameter of each
    fetched URL is a candidate instance, applicable when the stripped
    URL was itself fetched, valid when both carried the same content;
    rules pass at support >= 2 AND precision >= 0.95. The oracle mines
    the same fixture relationally in DuckDB (unnest-with-ordinality +
    list slicing for the parameter removal)."""
    from job_crawler_spark.operators.dust import mine_param_rules

    mined = mine_param_rules(
        dust_pages_df(spark, sf_dir),
        min_support=DUST_MIN_SUPPORT,
        min_precision=DUST_MIN_PRECISION,
    )
    out = mined.orderBy("host", "param")
    out._graft_checkpoints = getattr(mined, "_graft_checkpoints", [])
    return out


def _dust_rules_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    prec = stable_round_sql("n_valid / support", 6)
    return f"""
        WITH pages AS ({DUST_PAGES_SQL}),
        fetched AS (SELECT DISTINCT url, h FROM pages),
        parsed AS (
          SELECT url, h, split_part(url, '?', 1) AS base,
                 str_split(
                   substr(url, length(split_part(url, '?', 1)) + 2), '&'
                 ) AS params
          FROM fetched WHERE contains(url, '?')
        ),
        inst0 AS (
          SELECT h, base, params,
                 unnest(params) AS param_kv,
                 unnest(range(1, len(params) + 1)) AS i
          FROM parsed
        ),
        inst AS (
          SELECT h, split_part(base, '/', 1) AS host,
                 split_part(param_kv, '=', 1) AS param,
                 base || CASE WHEN len(params) > 1
                   THEN '?' || array_to_string(
                     list_concat(params[1 : i - 1], params[i + 1 :]), '&')
                   ELSE '' END AS stripped
          FROM inst0
        ),
        app AS (
          SELECT i.host, i.param, (i.h = f.h) AS valid
          FROM inst i JOIN fetched f ON f.url = i.stripped
          WHERE i.param <> ''
        ),
        agg AS (
          SELECT host, param,
                 CAST(COUNT(*) AS BIGINT) AS support,
                 CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_valid
          FROM app GROUP BY host, param
        )
        SELECT host, param, support, n_valid,
               {prec} AS rule_precision,
               (support >= {DUST_MIN_SUPPORT}
                AND {prec} >= {DUST_MIN_PRECISION}) AS keep
        FROM agg ORDER BY host, param
    """


ANCHOR_TOP_K = 3


def anchor_links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hyperlink fixture: every lineitem is a link from
    host ``s(l_suppkey%50)`` to part page ``p/(l_partkey)``; anchor text
    is the part's name, except suppliers ≡ 0 (mod 3) link with the
    classic noise anchor 'Click here!' (mixed case + punctuation so
    tokenization is exercised in both engines)."""
    from job_crawler_spark.functions.compat import spread

    # spread: the broadcast join, anchor tokenize and the first-level
    # aggregate all sit in the single-row-group scan's stage otherwise
    # (functions/compat.spread)
    li = spread(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_suppkey"
        )
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_name"
    )
    return li.join(part, li.l_partkey == part.p_partkey).select(
        F.concat(
            F.lit("s"), (F.col("l_suppkey") % 50).cast("string")
        ).alias("src_host"),
        F.concat(F.lit("p/"), F.col("l_partkey").cast("string")).alias(
            "dst_url"
        ),
        F.when(
            F.col("l_suppkey") % 3 == 0, F.lit("Click here!")
        ).otherwise(F.col("p_name")).alias("anchor_text"),
    )


def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (operators/anchors.py): per-target top-k
    anchor terms weighted by DISTINCT LINKING HOSTS (one host's footer
    repetition is one vote), raw mentions as tiebreaker — the link-
    evidence ranking signal for unfetched frontier URLs. The oracle
    re-mines the same links with regexp_split + two-level aggregation
    in DuckDB."""
    from job_crawler_spark.operators.anchors import anchor_text_profile

    return anchor_text_profile(
        anchor_links_df(spark, sf_dir), top_k=ANCHOR_TOP_K
    ).orderBy("dst_url", "term_rank")


def _anchor_profile_sql() -> str:
    return f"""
        WITH links AS (
          SELECT 's' || CAST(l_suppkey % 50 AS VARCHAR) AS src_host,
                 'p/' || CAST(l_partkey AS VARCHAR) AS dst_url,
                 CASE WHEN l_suppkey % 3 = 0 THEN 'Click here!'
                      ELSE p_name END AS anchor_text
          FROM lineitem JOIN part ON p_partkey = l_partkey
        ),
        terms AS (
          SELECT dst_url, src_host,
                 unnest(list_filter(
                   regexp_split_to_array(lower(anchor_text),
                                         '[^a-z0-9]+'),
                   t -> t <> '')) AS term
          FROM links
        ),
        per_host AS (
          SELECT dst_url, term, src_host,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM terms GROUP BY 1, 2, 3
        ),
        per_term AS (
          SELECT dst_url, term,
                 CAST(COUNT(*) AS BIGINT) AS n_hosts,
                 CAST(SUM(n) AS BIGINT) AS n_mentions
          FROM per_host GROUP BY 1, 2
        ),
        ranked AS (
          SELECT dst_url, term, n_hosts, n_mentions,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY dst_url
                   ORDER BY n_hosts DESC, n_mentions DESC, term ASC
                 ) AS INTEGER) AS term_rank
          FROM per_term
        )
        SELECT dst_url, term, n_hosts, n_mentions, term_rank
        FROM ranked WHERE term_rank <= {ANCHOR_TOP_K}
        ORDER BY dst_url, term_rank
    """


BOILER_LINE_TOKENS = 8
BOILER_MIN_DOCS = 2
BOILER_MIN_PCT = 50


def boiler_lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic line stream over documents (host = source, 25 docs
    per host at every gate SF, per-host index k = doc_id div 20): each
    doc's own tokens chunk into unique 8-token body lines, then planted
    template lines exercise every verdict regime — a ``footer`` line in
    ALL docs (support 25/25 -> boilerplate), a ``banner`` line where
    k % 2 = 0 (13/25 = 52% -> just ABOVE the 50% bound), a ``teaser``
    line where k >= 13 (12/25 = 48% -> just BELOW it), and for k = 1 the
    footer AGAIN at a second position (same-doc repeat: one support
    vote, two excised instances)."""
    # NO spread here: this frame feeds the body explode plus four
    # planted-line unions (5 consumers), so a repartition would re-run
    # its exchange per consumer — measured 2x slower than the plain
    # single-task scans (see OPTIMIZATION_r06.md)
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("source").alias("host"),
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("tk"),
        )
        .withColumn("k", F.expr("doc_id div 20"))
        .withColumn(
            "nb", F.expr(f"(size(tk) + {BOILER_LINE_TOKENS - 1}) div "
                         f"{BOILER_LINE_TOKENS}")
        )
    )
    w = BOILER_LINE_TOKENS
    body = d.select(
        "host",
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("nb")),
                lambda i: F.array_join(
                    F.slice(F.col("tk"), (i - 1) * w + 1, F.lit(w)), " "
                ),
            )
        ).alias("p0", "line"),
    ).select("host", "doc_id", (F.col("p0") + 1).alias("line_no"), "line")

    def planted(cond, offset: int, text: str) -> DataFrame:
        return d.filter(cond).select(
            "host",
            "doc_id",
            (F.col("nb") + offset).alias("line_no"),
            F.concat_ws(" ", F.lit(text.split()[0]), F.col("host"),
                        F.lit(" ".join(text.split()[1:]))).alias("line"),
        )

    k = F.col("k")
    footer = "footer contact privacy terms"
    return (
        body.unionAll(planted(F.lit(True), 1, footer))
        .unionAll(planted(k % 2 == 0, 2, "banner cookie consent notice"))
        .unionAll(planted(k >= 13, 3, "teaser subscribe newsletter today"))
        .unionAll(planted(k == 1, 4, footer))
    )


BOILER_LINES_SQL = f"""
    WITH d AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, source AS host,
             doc_id // 20 AS k,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    d2 AS (
      SELECT *, (len(tk) + {BOILER_LINE_TOKENS - 1}) // {BOILER_LINE_TOKENS}
               AS nb
      FROM d
    ),
    body AS (
      SELECT host, doc_id, CAST(u.i AS BIGINT) AS line_no,
             array_to_string(
               tk[(u.i - 1) * {BOILER_LINE_TOKENS} + 1 :
                  u.i * {BOILER_LINE_TOKENS}], ' ') AS line
      FROM d2, unnest(range(1, nb + 1)) AS u(i)
    )
    SELECT host, doc_id, line_no, line FROM body
    UNION ALL
    SELECT host, doc_id, nb + 1,
           'footer ' || host || ' contact privacy terms' FROM d2
    UNION ALL
    SELECT host, doc_id, nb + 2,
           'banner ' || host || ' cookie consent notice'
    FROM d2 WHERE k % 2 = 0
    UNION ALL
    SELECT host, doc_id, nb + 3,
           'teaser ' || host || ' subscribe newsletter today'
    FROM d2 WHERE k >= 13
    UNION ALL
    SELECT host, doc_id, nb + 4,
           'footer ' || host || ' contact privacy terms'
    FROM d2 WHERE k = 1
"""


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate detection + excision
    (operators/boilerplate.py, the C4/CCNet template-removal class): a
    line appearing in >= 2 docs AND >= 50% of a host's docs is template;
    output is per-doc excision accounting with the cleaned text rebuilt
    in line order. The oracle re-mines the same planted fixture
    relationally in DuckDB."""
    from job_crawler_spark.operators.boilerplate import (
        boilerplate_verdicts,
        excise_boilerplate,
    )

    lines = boiler_lines_df(spark, sf_dir)
    v = boilerplate_verdicts(
        lines, min_docs=BOILER_MIN_DOCS, min_pct=BOILER_MIN_PCT
    )
    out = excise_boilerplate(lines, v).orderBy("doc_id")
    out._graft_checkpoints = getattr(v, "_graft_checkpoints", [])
    return out


def _host_boilerplate_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    ratio = stable_round_sql("n_boiler / n_lines", 6)
    return f"""
        WITH lines AS ({BOILER_LINES_SQL}),
        ev AS (SELECT DISTINCT host, doc_id, line FROM lines),
        sup AS (
          SELECT host, line, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM ev GROUP BY 1, 2
        ),
        hd AS (
          SELECT host, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS host_docs
          FROM ev GROUP BY 1
        ),
        flag AS (
          SELECT sup.host, sup.line
          FROM sup JOIN hd ON hd.host = sup.host
          WHERE n_docs >= {BOILER_MIN_DOCS}
            AND n_docs * 100 >= {BOILER_MIN_PCT} * host_docs
        ),
        j AS (
          SELECT l.host, l.doc_id, l.line_no, l.line,
                 (f.line IS NOT NULL) AS b
          FROM lines l
          LEFT JOIN flag f ON f.host = l.host AND f.line = l.line
        ),
        acc AS (
          SELECT host, doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler,
                 COALESCE(string_agg(CASE WHEN NOT b THEN line END, ' '
                                     ORDER BY line_no), '') AS clean_text
          FROM j GROUP BY 1, 2
        )
        SELECT host, doc_id, n_lines, n_boiler,
               {ratio} AS boiler_ratio, clean_text
        FROM acc ORDER BY doc_id
    """


# --- WFQ fetch-slot schedule + consistent-hash shard placement ----------
#
# wfq_schedule: the budgeted batch interleaved by weighted fair queueing
# (operators/wfq.py) — per-host weights derived from md5(host) so both
# engines agree; vft integer-exact under the divisibility contract.
# shard_rebalance: consistent-hash placement at 4 vs 5 shards
# (operators/ring.py) — the oracle derives the vnode positions from md5
# IN-ENGINE (generate-series + md5 + correlated successor subquery), so
# the ring construction itself is cross-checked, not restated.

_WFQ_SHARDS = 4
_WFQ_REPLICAS = 16
_REBALANCE_MOD = 199

_VNODES_SQL = """
      SELECT s.s AS shard,
             CAST(('0x' || substring(md5('shard:' || s.s || ':rep:' || r.r),
                   1, 8)) AS BIGINT) AS pos
      FROM range({n}) s(s), range({v}) r(r)
"""


def q_wfq_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WFQ interleave of the canonicalized frontier: per-host priority
    order (priority DESC, url ASC), host weight = md5(host) % 8 + 1,
    slots numbered per consistent-hash fetcher shard."""
    from job_crawler_spark.operators.wfq import wfq_schedule

    f = frontier_df(spark, sf_dir).select(
        canonicalize_url_col(F.col("url")).alias("url_canon"),
        host_col(F.col("url")).alias("host"),
        "priority",
    )
    weight = (
        F.conv(F.substring(F.md5(F.col("host")), 1, 8), 16, 10).cast("long")
        % 8
        + 1
    )
    sched = wfq_schedule(
        f.withColumn("weight", weight),
        order=[F.col("priority").desc(), F.col("url_canon").asc()],
        weight=F.col("weight"),
        n_shards=_WFQ_SHARDS,
        n_replicas=_WFQ_REPLICAS,
    )
    return sched.select(
        "shard", "slot", "host", "url_canon", "weight", "host_rank", "vft"
    ).orderBy("shard", "slot")


def _wfq_sql() -> str:
    vn = _VNODES_SQL.format(n=_WFQ_SHARDS, v=_WFQ_REPLICAS)
    return f"""
    WITH f AS ({FRONTIER_SQL}),
    c AS (SELECT {_CANON_SQL} AS url_canon, {_HOST_SQL} AS host, priority
          FROM f),
    w AS (
      SELECT *,
             CAST(('0x' || substring(md5(host), 1, 8)) AS BIGINT) % 8 + 1
               AS weight,
             CAST(('0x' || substring(md5(host), 1, 8)) AS BIGINT) AS hpos
      FROM c
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                ORDER BY priority DESC, url_canon ASC) AS host_rank
      FROM w
    ),
    vn AS ({vn}),
    keyed AS (
      SELECT *,
             host_rank * (840 // weight) AS vft,
             COALESCE(
               (SELECT shard FROM vn WHERE vn.pos >= ranked.hpos
                ORDER BY pos, shard LIMIT 1),
               (SELECT shard FROM vn ORDER BY pos, shard LIMIT 1)) AS shard
      FROM ranked
    )
    SELECT shard,
           ROW_NUMBER() OVER (PARTITION BY shard
             ORDER BY vft ASC, host ASC, host_rank ASC) AS slot,
           host, url_canon, weight, host_rank, vft
    FROM keyed ORDER BY shard, slot
"""


def rebalance_hosts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A wide deterministic host universe for the placement gate:
    h{orderkey % 199}.example.com, distinct."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host = F.concat(
        F.lit("h"),
        (F.col("o_orderkey") % _REBALANCE_MOD),
        F.lit(".example.com"),
    )
    return orders.select(host.alias("host")).distinct()


def q_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash placement at 4 vs 5 shards and who must move —
    the elastic-scaling audit (operators/ring.py)."""
    from job_crawler_spark.operators.ring import ring_rebalance_plan

    hosts = rebalance_hosts_df(spark, sf_dir)
    return ring_rebalance_plan(
        hosts, n_shards=_WFQ_SHARDS, n_replicas=_WFQ_REPLICAS
    ).orderBy("host")


def _shard_rebalance_sql() -> str:
    va = _VNODES_SQL.format(n=_WFQ_SHARDS, v=_WFQ_REPLICAS)
    vb = _VNODES_SQL.format(n=_WFQ_SHARDS + 1, v=_WFQ_REPLICAS)
    return f"""
    WITH hosts AS (
      SELECT DISTINCT 'h' || CAST(o_orderkey % {_REBALANCE_MOD} AS VARCHAR)
             || '.example.com' AS host
      FROM orders
    ),
    p AS (
      SELECT host,
             CAST(('0x' || substring(md5(host), 1, 8)) AS BIGINT) AS ring_pos
      FROM hosts
    ),
    va AS ({va}),
    vb AS ({vb}),
    assigned AS (
      SELECT host, ring_pos,
             COALESCE(
               (SELECT shard FROM va WHERE va.pos >= p.ring_pos
                ORDER BY pos, shard LIMIT 1),
               (SELECT shard FROM va ORDER BY pos, shard LIMIT 1)) AS shard_a,
             COALESCE(
               (SELECT shard FROM vb WHERE vb.pos >= p.ring_pos
                ORDER BY pos, shard LIMIT 1),
               (SELECT shard FROM vb ORDER BY pos, shard LIMIT 1)) AS shard_b
      FROM p
    )
    SELECT host, ring_pos, shard_a, shard_b, shard_a <> shard_b AS moved
    FROM assigned ORDER BY host
"""


# --- Max-min fair crawl-budget allocation (water-filling) ---------------
#
# host_budget_waterfill: the round's global fetch budget divided across
# hosts by progressive filling (operators/fairshare.py). Demands come
# from per-customer order counts (natural TPC-H variation: ties, skew,
# saturation boundaries at both gate scales); budget = total orders DIV 3
# so the waterline binds mid-distribution. The DuckDB oracle re-derives
# the waterline from the demand histogram independently (same segment
# algebra, its own window engine).


def q_host_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair allocation of a global fetch budget across hosts:
    alloc = min(demand, t*) with t* the largest waterline the budget
    covers; integer-exact, spare reported (rolls to the next round)."""
    from job_crawler_spark.operators.fairshare import waterfill_alloc

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    demands = orders.groupBy(
        F.concat(
            F.lit("c"), F.col("o_custkey"), F.lit(".example.com")
        ).alias("host")
    ).agg(F.count(F.lit(1)).alias("demand"))
    budget = orders.count() // 3  # control-plane scalar, 1-row action
    out = waterfill_alloc(demands, budget=int(budget))
    result = out.select(
        "host", "demand", "alloc", "saturated", "waterline", "spare"
    ).orderBy("host")
    result._graft_checkpoints = getattr(out, "_graft_checkpoints", [])
    return result


def _host_budget_waterfill_sql() -> str:
    return """
    WITH d AS (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) || '.example.com' AS host,
             COUNT(*) AS demand
      FROM orders GROUP BY 1
    ),
    b AS (SELECT COUNT(*) // 3 AS budget FROM orders),
    hist AS (
      SELECT demand AS v, COUNT(*) AS cnt, SUM(demand) AS sumv
      FROM d GROUP BY demand
    ),
    seg AS (
      SELECT v,
             CAST(COALESCE(SUM(sumv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS s_prev,
             COALESCE(LAG(v) OVER (ORDER BY v), 0) AS v_prev,
             CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS m_prev
      FROM hist
    ),
    cand AS (
      SELECT CASE WHEN (SELECT budget FROM b) >= s_prev + v_prev * m_prev
             THEN LEAST(((SELECT budget FROM b) - s_prev) // m_prev, v - 1)
             END AS c
      FROM seg
    ),
    tot AS (SELECT CAST(COALESCE(SUM(sumv), 0) AS BIGINT) AS s_total,
                   COALESCE(MAX(v), 0) AS v_max FROM hist),
    t AS (
      SELECT CAST(CASE WHEN (SELECT budget FROM b) >= s_total THEN v_max
             ELSE GREATEST(COALESCE((SELECT MAX(c) FROM cand), 0), 0)
             END AS BIGINT) AS t_star
      FROM tot
    ),
    u AS (
      SELECT CAST(COALESCE(SUM(LEAST(v, (SELECT t_star FROM t)) * cnt),
             0) AS BIGINT) AS used
      FROM hist
    )
    SELECT d.host, d.demand,
           CAST(LEAST(d.demand, t.t_star) AS BIGINT) AS alloc,
           d.demand <= t.t_star AS saturated,
           t.t_star AS waterline,
           CAST((SELECT budget FROM b) - u.used AS BIGINT) AS spare
    FROM d, t, u ORDER BY host
"""


# --- Public-suffix (PSL) registrable-domain classification --------------
#
# registrable_domains: the eTLD+1 grouping key a web-scale crawler's
# politeness/sharding should use instead of raw host
# (operators/psl.py — exceptions, wildcards, longest-match, default
# rule all exercised by the derived host shapes). The DuckDB oracle
# re-implements the published algorithm independently over the same
# rule literals.


def _psl_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host mix derived from customer: every rule type in
    operators/psl.DEFAULT_RULES is hit (plain TLD, 2/3-label suffixes,
    private-style github.io, wildcard *.ck, exception !www.ck, and the
    unlisted .test TLD for the implicit default rule)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seg = F.lower(F.col("c_mktsegment"))
    k = F.col("c_custkey").cast("string")
    host = (
        F.when(F.col("c_custkey") % 9 == 0, F.concat(F.lit("shop"), k, F.lit(".example.com")))
        .when(F.col("c_custkey") % 9 == 1, F.concat(F.lit("jobs."), seg, k, F.lit(".co.uk")))
        .when(F.col("c_custkey") % 9 == 2, F.concat(seg, k, F.lit(".github.io")))
        .when(F.col("c_custkey") % 9 == 3, F.concat(F.lit("lab"), k, F.lit("."), seg, F.lit(".ac.jp")))
        .when(F.col("c_custkey") % 9 == 4, F.concat(seg, k, F.lit(".jp")))
        .when(F.col("c_custkey") % 9 == 5, F.concat(F.lit("portal."), seg, k, F.lit(".uk")))
        .when(F.col("c_custkey") % 9 == 6, F.concat(F.lit("x.y"), k, F.lit(".bar.ck")))
        .when(F.col("c_custkey") % 9 == 7, F.lit("www.ck"))
        .otherwise(F.concat(F.lit("internal"), k, F.lit(".test")))
    )
    return customer.select(host.alias("host"))


def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-suffix-list classification per distinct host: matched rule
    (NULL = implicit default '*'), public suffix, registrable domain
    (eTLD+1; NULL when the host IS a public suffix)."""
    from job_crawler_spark.operators.psl import registrable_domains

    return registrable_domains(_psl_hosts(spark, sf_dir)).orderBy("host")


_PSL_HOSTS_SQL = """
  SELECT DISTINCT CASE CAST(c_custkey % 9 AS INTEGER)
    WHEN 0 THEN 'shop' || CAST(c_custkey AS VARCHAR) || '.example.com'
    WHEN 1 THEN 'jobs.' || lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '.co.uk'
    WHEN 2 THEN lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '.github.io'
    WHEN 3 THEN 'lab' || CAST(c_custkey AS VARCHAR) || '.' || lower(c_mktsegment) || '.ac.jp'
    WHEN 4 THEN lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '.jp'
    WHEN 5 THEN 'portal.' || lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) || '.uk'
    WHEN 6 THEN 'x.y' || CAST(c_custkey AS VARCHAR) || '.bar.ck'
    WHEN 7 THEN 'www.ck'
    ELSE 'internal' || CAST(c_custkey AS VARCHAR) || '.test'
  END AS host
  FROM customer
"""


def _registrable_domains_sql() -> str:
    return f"""
    WITH hosts AS ({_PSL_HOSTS_SQL}),
    rules(rule, key, is_exception) AS (VALUES
      ('com','com',FALSE), ('org','org',FALSE), ('net','net',FALSE),
      ('io','io',FALSE), ('jp','jp',FALSE), ('ac.jp','ac.jp',FALSE),
      ('uk','uk',FALSE), ('co.uk','co.uk',FALSE), ('org.uk','org.uk',FALSE),
      ('github.io','github.io',FALSE), ('*.ck','*.ck',FALSE),
      ('!www.ck','www.ck',TRUE)
    ),
    base AS (
      SELECT host, string_split(host, '.') AS labels,
             len(string_split(host, '.')) AS n
      FROM hosts
    ),
    cand AS (
      SELECT host, n, k,
             array_to_string(labels[n-k+1:n], '.') AS suffix,
             CASE WHEN k >= 2
                  THEN array_to_string(labels[n-k+2:n], '.') END AS tail
      FROM base, unnest(generate_series(1, n)) AS t(k)
    ),
    forms AS (
      SELECT host, k, suffix, tail, suffix AS form, FALSE AS is_wild
      FROM cand
      UNION ALL
      SELECT host, k, suffix, tail, '*.' || tail, TRUE
      FROM cand WHERE tail IS NOT NULL
    ),
    m AS (
      SELECT f.host, f.k, f.suffix, f.tail, r.rule, r.is_exception
      FROM forms f JOIN rules r ON f.form = r.key
      WHERE NOT (r.is_exception AND f.is_wild)
    ),
    w AS (
      SELECT host, rule AS matched_rule,
             CASE WHEN is_exception THEN tail ELSE suffix END AS ps,
             CASE WHEN is_exception THEN k - 1 ELSE k END AS psn,
             ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY is_exception DESC, k DESC, rule) AS rn
      FROM m
    )
    SELECT b.host, w.matched_rule,
           COALESCE(w.ps, b.labels[b.n]) AS public_suffix,
           CASE WHEN b.n > COALESCE(w.psn, 1)
                THEN array_to_string(
                       b.labels[b.n - COALESCE(w.psn, 1):b.n], '.')
           END AS registrable_domain
    FROM base b
    LEFT JOIN (SELECT * FROM w WHERE rn = 1) w USING (host)
    ORDER BY host
"""


# shard_fixity_digest: content-integrity audit for a sharded corpus —
# the anti-entropy primitive replica sync and backup verification run.

FIXITY_SHARDS = 16


def fixity_shard_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-checkpointed per-shard digest frame: leaf digests (first 60
    bits of ``md5(doc_id ':' text)``) folded per md5-uniform shard with a
    map-side-combinable BIT_XOR plus an exact count. Factored out so the
    plan pin can assert the pre-checkpoint shape (one scan, one hash
    exchange, partial_bit_xor) on the exact pipeline the query runs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_s = F.col("doc_id").cast("string")
    leaf = docs.select(
        (
            F.conv(F.substring(F.md5(doc_s), 1, 8), 16, 10).cast("long")
            % FIXITY_SHARDS
        ).alias("shard_id"),
        F.conv(
            F.substring(
                F.md5(F.concat(doc_s, F.lit(":"), F.col("text"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("d"),
    )
    return leaf.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(d)").alias("shard_digest"),
    )


def q_shard_fixity_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard + corpus-root content digests over ``documents`` — the
    integrity-audit operator class (Merkle-style anti-entropy, as in
    Dynamo/Cassandra replica repair): two stores compare root digests,
    and on mismatch recurse into the per-shard digests to localize the
    divergent shard — O(log) traffic instead of shipping the corpus.
    Deepens the reference's row-count-only health check
    (``table_health``, ref ``main.py`` check_table_counts) to content
    equality.

    Digest design for the 100 TB shape: the leaf digest is the first 60
    bits of ``md5(doc_id ':' text)`` (content-addressed, engine-portable
    — no rand(), no engine-specific hash); the shard digest is the
    BIT_XOR fold of its leaf digests. XOR is commutative/associative, so
    the aggregate is map-side combinable with CONSTANT per-group state —
    no sorted concat buffers (the string-concat Merkle variant holds
    O(shard) state per group) — and INCREMENTALLY maintainable: updating
    one document is two XORs against the old and new leaf digests, no
    shard rescan. Shard placement is the same md5-uniform hash the shard
    order/rebalance queries use, independent of the content digest. Plan:
    ONE scan -> one (shard) hash aggregate -> 1-row root fold broadcast
    back; nothing is corpus-sized past the first aggregate.

    The DuckDB oracle recomputes leaf/shard/root digests independently
    (hex-literal cast instead of conv; scalar-subquery root) — integer
    arithmetic end-to-end, so the match is exact, not rounded.
    """
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    sh = fixity_shard_frame(spark, sf_dir)
    # the shard frame feeds BOTH the output and the root fold; Catalyst
    # does not CSE across crossJoin sides, so without materializing it the
    # corpus scan + shard aggregate run TWICE (observed). 16 rows:
    # checkpoint is free, and the visible plan carries zero parquet scans.
    sh = tracked_local_checkpoint(sh)
    root = sh.agg(F.expr("bit_xor(shard_digest)").alias("root_digest"))
    out = (
        sh.crossJoin(F.broadcast(root))
        .select("shard_id", "n_docs", "shard_digest", "root_digest")
        .orderBy("shard_id")
    )
    out._graft_checkpoints = [sh]
    return out


def _shard_fixity_sql() -> str:
    return f"""
        WITH leaf AS (
          SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) % {FIXITY_SHARDS} AS shard_id,
                 CAST(('0x' || substring(
                        md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))
                      AS BIGINT) AS d
          FROM documents
        ),
        sh AS (
          SELECT shard_id, COUNT(*) AS n_docs, bit_xor(d) AS shard_digest
          FROM leaf GROUP BY shard_id
        )
        SELECT shard_id, n_docs, shard_digest,
               (SELECT bit_xor(shard_digest) FROM sh) AS root_digest
        FROM sh ORDER BY shard_id
    """


BLOOM_M = 1 << 15  # filter bits
BLOOM_K = 3  # hash functions


def q_bloom_seen_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter seen-set audit (Bloom, CACM 1970; Broder & Mitzenmacher's
    survey is the crawl-context standard): build a deterministic
    ``BLOOM_M``-bit / ``BLOOM_K``-hash filter over the SEEN canonical
    URLs (even ids — the `seen_antijoin` contract) and probe it with the
    revisit candidates (ids divisible by 3), reporting exact
    false-positive accounting in one row: filter load, hit counts, and
    the measured fp rate among true non-members. At 100 TB the frontier's
    seen-check IS a Bloom filter (the exact set no longer fits a
    broadcast); this operator is the audit that validates deployed (m, k)
    against a ground-truth sample — and its structural guarantee, zero
    false NEGATIVES, is pinned by a golden (ids divisible by 6 are true
    members and must all hit). Companion to operators/bloom.py (the
    deployed broadcast prefilter with its own Python-side bitmaps):
    this is the relational, oracle-checked audit of that structure's
    parameters, computed entirely JVM-side.

    Determinism: bit positions are
    ``conv(substring(md5('bloom:<i>:' || url), 1, 8), 16, 10) % m`` — the
    repo's established engine-portable hex->int convention
    (`shard_rebalance`); every count is an exact integer and the single
    emitted ratio is one division, stable-rounded.

    Scale shape: the seen set collapses to distinct canonical URLs ONCE
    (localCheckpointed — it feeds both the bit-set build and the
    membership mark); the bit set is <= m rows and BROADCASTS onto the
    exploded probe positions (an O(1) hash lookup per probe bit — the
    plan-shape argument for why the probe side never shuffles on
    position); per-probe verdicts aggregate map-side on the probe key;
    membership truth is one join against the materialized seen set; the
    final frame is 1-row folds crossJoined via broadcast. Duplicate
    positions within a probe's k hashes are handled by comparing against
    the per-probe DISTINCT position count, not k.
    """
    from job_crawler_spark.functions.compat import stable_round
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    def pos(col, i):
        h = F.md5(F.concat(F.lit(f"bloom:{i}:"), col))
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BLOOM_M
        )

    f = frontier_df(spark, sf_dir).select(
        "id", canonicalize_url_col(F.col("url")).alias("u")
    )
    seen = tracked_local_checkpoint(
        f.filter(F.col("id") % 2 == 0).select("u").distinct()
    )
    # bits feeds BOTH the probe join and the n_bits_set count — and its
    # build is a corpus-scale position shuffle; materialize it so that
    # runs once (it is <= m rows, checkpoint is free).
    bits = tracked_local_checkpoint(
        seen.select(
            F.explode(
                F.array(*[pos(F.col("u"), i) for i in range(BLOOM_K)])
            ).alias("p")
        ).distinct()
    )
    probes = (
        f.filter(F.col("id") % 3 == 0)
        .select("u")
        .distinct()
        .join(
            seen.select("u", F.lit(1).alias("m")), "u", "left"
        )
        .select(
            "u",
            F.col("m").isNotNull().alias("is_member"),
            F.array_distinct(
                F.array(*[pos(F.col("u"), i) for i in range(BLOOM_K)])
            ).alias("ps"),
        )
    )
    verdicts = (
        probes.select(
            "u", "is_member", F.size("ps").alias("need"),
            F.explode("ps").alias("p"),
        )
        .join(F.broadcast(bits.select("p", F.lit(1).alias("hit"))), "p", "left")
        .groupBy("u")
        .agg(
            F.max(F.col("is_member").cast("int")).alias("is_member"),
            F.max("need").alias("need"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("got"),
        )
        .select(
            "u", "is_member", (F.col("got") == F.col("need")).alias("bloom_hit")
        )
    )
    # COALESCE the sums: over an EMPTY probe set SUM is NULL in both
    # engines (so the cross-engine gate cannot catch it) but the audit
    # contract is zeros — found by the Python-reference property test.
    agg = verdicts.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.coalesce(F.sum("is_member"), F.lit(0)).alias("n_true_member"),
        F.coalesce(
            F.sum(F.col("bloom_hit").cast("long")), F.lit(0)
        ).alias("n_bloom_hits"),
        F.coalesce(
            F.sum(
                (F.col("bloom_hit") & (F.col("is_member") == 0)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_false_pos"),
    )
    scal = seen.agg(F.count(F.lit(1)).alias("n_seen")).crossJoin(
        F.broadcast(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
    )
    out = agg.crossJoin(F.broadcast(scal)).select(
        "n_seen",
        "n_bits_set",
        "n_probes",
        "n_true_member",
        "n_bloom_hits",
        "n_false_pos",
        stable_round(
            F.col("n_false_pos")
            / F.greatest(
                F.col("n_probes") - F.col("n_true_member"), F.lit(1)
            ),
            6,
        ).alias("fp_rate"),
    )
    out._graft_checkpoints = [seen, bits]
    return out


def _bloom_seen_audit_sql() -> str:
    from job_crawler_spark.functions.compat import stable_round_sql

    def pos(i, col="u"):
        return (
            f"CAST(('0x' || substring(md5('bloom:{i}:' || {col}), 1, 8))"
            f" AS BIGINT) % {BLOOM_M}"
        )

    plist = ", ".join(pos(i) for i in range(BLOOM_K))
    fp = stable_round_sql(
        "n_false_pos / CAST(GREATEST(n_probes - n_true_member, 1)"
        " AS DOUBLE)", 6
    )
    return f"""
        WITH f AS ({FRONTIER_SQL}),
        c AS (SELECT id, {_CANON_SQL} AS u FROM f),
        seen AS (SELECT DISTINCT u FROM c WHERE id % 2 = 0),
        bits AS (
          SELECT DISTINCT unnest([{plist}]) AS p FROM seen
        ),
        probes AS (
          SELECT pr.u,
                 EXISTS (SELECT 1 FROM seen s WHERE s.u = pr.u)
                   AS is_member,
                 list_distinct([{plist}]) AS ps
          FROM (SELECT DISTINCT u FROM c WHERE id % 3 = 0) pr
        ),
        verd AS (
          SELECT u, MAX(CASE WHEN is_member THEN 1 ELSE 0 END) AS is_member,
                 MAX(len(ps)) AS need,
                 SUM(CASE WHEN EXISTS (SELECT 1 FROM bits b WHERE b.p = pp.p)
                          THEN 1 ELSE 0 END) AS got
          FROM (SELECT u, is_member, ps, unnest(ps) AS p FROM probes) pp
          GROUP BY u
        ),
        agg AS (
          SELECT COUNT(*) AS n_probes,
                 CAST(COALESCE(SUM(is_member), 0) AS BIGINT)
                   AS n_true_member,
                 CAST(COALESCE(SUM(CASE WHEN got = need
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_bloom_hits,
                 CAST(COALESCE(SUM(CASE WHEN got = need AND is_member = 0
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_false_pos
          FROM verd
        ),
        scal AS (
          SELECT (SELECT COUNT(*) FROM seen) AS n_seen,
                 (SELECT COUNT(*) FROM bits) AS n_bits_set
        )
        SELECT n_seen, n_bits_set, n_probes, n_true_member, n_bloom_hits,
               n_false_pos, {fp} AS fp_rate
        FROM agg, scal
    """


QUERIES = {
    "url_canonicalize": q_url_canonicalize,
    "politeness_rank": q_politeness_rank,
    "first_wins_dedup": q_first_wins_dedup,
    "seen_antijoin": q_seen_antijoin,
    "url_trap_signals": q_url_trap_signals,
    "sitemap_ingest": q_sitemap_ingest,
    "robots_rules": q_robots_rules,
    "revisit_schedule": q_revisit_schedule,
    "redirect_resolve": q_redirect_resolve,
    "host_mirrors": q_host_mirrors,
    "dust_rules": q_dust_rules,
    "anchor_profile": q_anchor_profile,
    "host_boilerplate": q_host_boilerplate,
    "wfq_schedule": q_wfq_schedule,
    "shard_rebalance": q_shard_rebalance,
    "host_budget_waterfill": q_host_budget_waterfill,
    "registrable_domains": q_registrable_domains,
    "shard_fixity_digest": q_shard_fixity_digest,
    "bloom_seen_audit": q_bloom_seen_audit,
}

ORACLES = {
    "bloom_seen_audit": _bloom_seen_audit_sql(),
    "url_canonicalize": Q_URL_CANON_SQL,
    "politeness_rank": Q_POLITENESS_SQL,
    "first_wins_dedup": _first_wins_sql(),
    "seen_antijoin": Q_SEEN_ANTIJOIN_SQL,
    "url_trap_signals": _url_trap_sql(),
    "sitemap_ingest": _sitemap_ingest_sql(),
    "robots_rules": _robots_rules_sql(),
    "revisit_schedule": _revisit_sql(),
    "redirect_resolve": _redirect_resolve_sql(),
    "host_mirrors": _host_mirrors_sql(),
    "dust_rules": _dust_rules_sql(),
    "anchor_profile": _anchor_profile_sql(),
    "host_boilerplate": _host_boilerplate_sql(),
    "wfq_schedule": _wfq_sql(),
    "shard_rebalance": _shard_rebalance_sql(),
    "host_budget_waterfill": _host_budget_waterfill_sql(),
    "registrable_domains": _registrable_domains_sql(),
    "shard_fixity_digest": _shard_fixity_sql(),
}
