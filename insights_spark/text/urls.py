"""URL canonicalization + canonical-URL dedup — the first dedup a
web-crawl corpus runs, BEFORE any content hashing: the same page is
fetched many times under cosmetically different URLs (tracking params,
fragments, default ports, case-variant hosts, trailing slashes), and
collapsing those is pure string algebra — no content comparison at all
(reference ingests changeset/element URLs per-row via its XML loader,
insights/README.md; the canonical-key latest-wins shape is the web
analogue of its upsert-latest-version sink, SURVEY §2.10).

Canonicalization (RFC 3986 §6 syntax-based normalization plus the
standard crawl-dedup conventions):

1. scheme and host lowercased (case-insensitive per RFC 3986),
2. fragment dropped (never sent to the server),
3. default port stripped (``:80`` for http, ``:443`` for https),
4. trailing slashes stripped from the path (empty path → ``/``),
5. tracking params dropped (``utm_*``, ``gclid``, ``fbclid``, ``ref``),
6. remaining query params sorted (order-insensitive key match).

Every step is a built-in column expression (regexp_extract / filter /
sort_array) — JVM codegen end-to-end, and replicated verbatim by the
ANSI-SQL oracle. Dedup is then one groupBy on the canonical key with a
``max(struct(ts, id))`` latest-wins pick — deterministic under ties by
the total (ts, id) order.

Scale posture (100 TB): canonicalization is map-only (zero shuffle);
dedup is ONE hash shuffle on the canonical key — same layout as exact
content dedup, so a 10^12-row crawl dedups in a single exchange. No UDF,
no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: query params dropped before comparison (match key, with or without =)
TRACKING_RE = "^(utm_[^=]*|gclid|fbclid|ref)(=|$)"


def canonical_url(url: Column) -> Column:
    """The canonical form of ``url`` per the module rules — one nested
    column expression (whole-stage codegen, no UDF)."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:]+://([^/?#]*)", 1))
    host = (
        F.when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[^:]+://[^/?#]*([^?#]*)", 1), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(
        F.split(F.regexp_extract(url, r"\?([^#]*)", 1), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_RE),
    )
    query = F.array_join(F.sort_array(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def url_dedup(df: DataFrame) -> DataFrame:
    """One row per canonical URL: (canonical_url, kept_id, last_ts,
    n_variants, n_urls). ``kept_id`` is the row with the max (ts, id) —
    the latest fetch, ties broken by the larger id — mirroring the
    latest-version upsert the reference's sink applies per element id.
    ``n_urls`` counts DISTINCT raw spellings collapsed into the key."""
    canon = df.select(
        canonical_url(F.col("url")).alias("canonical_url"),
        F.col("url").alias("_url"),
        F.col("warc_ts").alias("_ts"),
        F.col("doc_id").alias("_id"),
    )
    return canon.groupBy("canonical_url").agg(
        F.max(F.struct(F.col("_ts"), F.col("_id"))).alias("_pick"),
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("_url").alias("n_urls"),
    ).select(
        "canonical_url",
        F.col("_pick._id").alias("kept_id"),
        F.col("_pick._ts").alias("last_ts"),
        "n_variants",
        "n_urls",
    )


def host_of(canonical: Column) -> Column:
    """The host of an already-canonical URL (ports are gone for http/https
    after canonical_url; other schemes keep theirs)."""
    return F.regexp_extract(canonical, r"^[^:]+://([^/?#]*)", 1)


def host_stats(
    pages: DataFrame,
    bytes_col: str | None = None,
    min_docs: int = 1,
    max_dup_per_mille: int = 1000,
) -> DataFrame:
    """Host-level crawl rollup + keep/drop decision — the host-granularity
    filter public pipelines run BEFORE any per-document scoring
    (RefinedWeb/Falcon drops whole hosts by URL/dup profile; C4's blocklist
    is host-keyed): a host whose pages are mostly duplicate canonical URLs
    is a mirror, a crawler trap, or a template farm, and dropping it costs
    one integer compare instead of a million document scores.

    Output per host: (host, n_docs, n_pages = distinct canonical URLs,
    total_bytes, dup_per_mille = (n_docs − n_pages)·1000 DIV n_docs,
    keep = n_docs ≥ min_docs AND dup_per_mille ≤ max_dup_per_mille) — all
    integers, exactly reproducible.

    Scale posture (100 TB): canonicalization + host extraction are
    map-only column expressions; the rollup is ONE hash shuffle keyed on
    host with countDistinct's standard two-phase expansion (partial
    distinct on (host, canon) first — Catalyst plans it; hosts are the
    natural unit of crawl skew, and a mega-host lands in the FIRST phase
    keyed (host, canon), which spreads it). No UDF, no collect.
    """
    canon = canonical_url(F.col("url"))
    rows = pages.select(
        host_of(canon).alias("host"),
        canon.alias("_canon"),
        (F.col(bytes_col) if bytes_col else F.lit(0)).cast("long").alias("_b"),
    )
    n_docs = F.count(F.lit(1)).cast("long")
    n_pages = F.countDistinct("_canon").cast("long")
    agg = rows.groupBy("host").agg(
        n_docs.alias("n_docs"),
        n_pages.alias("n_pages"),
        F.sum("_b").cast("long").alias("total_bytes"),
    )
    dup = F.expr("((n_docs - n_pages) * 1000) DIV n_docs")
    return agg.select(
        "host",
        "n_docs",
        "n_pages",
        "total_bytes",
        dup.alias("dup_per_mille"),
        (
            (F.col("n_docs") >= F.lit(min_docs))
            & (dup <= F.lit(max_dup_per_mille))
        ).cast("int").alias("keep"),
    )


def path_tree(df: DataFrame) -> DataFrame:
    """URL path-hierarchy rollup — the "directory tree sizes" query of a
    crawl frontier: every page counts toward EVERY ancestor prefix of its
    path, so each (host, prefix) row reads off the number of pages in
    that subtree (depth 0 = the host root, depth = #segments = the page
    itself). The standard crawl-budgeting / sitemap-shape primitive.

    Output: (host, depth, prefix, n_pages). The per-row explode factor
    is path depth + 1 (bounded by URL structure, not data volume), then
    ONE decomposable (host, depth, prefix)-keyed rollup with map-side
    combine — prefix keys nest, so hot subtrees are exactly the rows a
    consumer wants, and AQE splits them like any hot key.

    Parsing matches ``canonical_url``'s tolerance: scheme stripped if
    present, host lowercased up to the first '/', query/fragment cut
    before path segmentation, empty segments dropped.
    """
    u = F.col("url")
    rest = F.when(
        u.contains("://"), F.expr("substring_index(url, '://', -1)")
    ).otherwise(u)
    host = F.lower(F.substring_index(rest, "/", 1))
    path = F.when(
        rest.contains("/"),
        F.expr("substring(substring_index(url, '://', -1), "
               "length(substring_index(substring_index(url, '://', -1),"
               " '/', 1)) + 1)"),
    ).otherwise(F.lit(""))
    clean = F.substring_index(F.substring_index(path, "?", 1), "#", 1)
    segs = F.filter(F.split(clean, "/"), lambda s: s != "")
    nodes = F.transform(
        F.sequence(F.lit(0), F.size(segs)),
        lambda i: F.struct(
            i.cast("int").alias("depth"),
            F.concat(F.lit("/"), F.array_join(F.slice(segs, 1, i), "/"))
            .alias("prefix"),
        ),
    )
    return (
        df.where(u.isNotNull())
        .select(host.alias("host"), F.explode(nodes).alias("nd"))
        .groupBy("host", F.col("nd.depth").alias("depth"),
                 F.col("nd.prefix").alias("prefix"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
    )
