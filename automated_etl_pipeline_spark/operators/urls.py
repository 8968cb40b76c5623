"""URL / domain curation operators (VERDICT r7 ask #4 — SURVEY §2.11).

The CommonCrawl-shaped curation family: a web corpus arrives keyed by
URL, and the first grouping any pipeline needs is the REGISTRABLE
domain (the public-suffix-plus-one label: ``news.bbc.co.uk`` →
``bbc.co.uk``), because crawl frequency, boilerplate, spam and quality
all correlate at that grain, not at the host or the raw URL.  On top
of it sit per-domain document caps (anti-over-representation — one
hot domain must not dominate the training mix) and domain-level
quality priors joined back onto documents.

Everything here is JVM expressions + hash joins — no Python row
boundary anywhere (plan-asserted in tests/test_urls.py):

- Host extraction is ``parse_url(url, 'HOST')`` (Spark's built-in,
  codegen'd).
- Public-suffix matching is an EQUI join, not a LIKE scan: each host
  emits its last 1..4 label-suffixes as candidates (a
  bounded <= 4x explode), candidates hash-join the broadcast suffix
  table, and the longest hit wins via max_by.  The real public-suffix
  list is ~10k rules — a per-row scan of it (the naive
  ``endswith`` OR-join, a BroadcastNestedLoopJoin) costs 10k
  comparisons per URL at 100 TB; the candidate equi-join costs 4
  hash probes.
- Per-domain caps use the rank-then-filter shape Spark rewrites to
  WindowGroupLimit (map-side top-N per key before the shuffle — the
  operators/apportion.py pre-trim pattern).

The driver testdata carries no URL column, so these are pytest-oracle
gates over a seeded generated fixture (the partsupp precedent): both
engines read the same tmp parquet, DuckDB mirrors the longest-suffix
semantics with a LIKE join (the oracle need not be scalable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def extract_host(df: DataFrame) -> DataFrame:
    """Lower-cased hostname via the built-in ``parse_url(url, 'HOST')``
    (invalid URLs yield NULL, matching java.net.URI semantics)."""
    return df.withColumn(
        "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    )


def registrable_domain(
    df: DataFrame,
    suffixes: DataFrame,
    id_col: str,
) -> DataFrame:
    """Append ``domain``: the registrable domain of ``host`` under
    the public-suffix table ``suffixes`` (single column ``suffix``,
    lower-case, no leading dot).

    Longest-match semantics, as the PSL specifies: of all suffixes
    that match a trailing label sequence of the host, the one with the
    most labels wins; the registrable domain is that suffix plus the
    one preceding label.  NULL when the host matches no suffix (an
    unknown TLD — the caller decides whether to keep such rows) or IS
    a bare public suffix (nothing registrable).

    The candidate explode stops at 4 labels: the PSL's longest rules
    are 4 labels, so 4 loses nothing.  ``suffixes`` must be loss-
    lessly broadcastable (the full PSL is ~10k rows — trivially so).
    """
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    cands = F.transform(
        F.sequence(F.lit(1), F.least(F.lit(4), n)),
        lambda m: F.concat_ws(".", F.slice(labels, n - m + 1, m)),
    )
    # NULL hosts (unparseable URLs) would make sequence() step backward
    # (size = -1); they can't match anyway, so keep them out of the
    # candidate explode entirely
    ex = df.filter(F.col("host").isNotNull()).select(
        id_col, "host", F.explode(cands).alias("__cand")
    )
    m = F.size(F.split(F.col("suffix"), r"\."))
    best = (
        ex.join(F.broadcast(suffixes), F.col("__cand") == F.col("suffix"))
        .groupBy(id_col)
        .agg(F.max_by("suffix", m).alias("__sfx"))
    )
    n2 = F.size(F.split(F.col("host"), r"\."))
    m2 = F.size(F.split(F.col("__sfx"), r"\."))
    dom = F.when(
        F.col("__sfx").isNotNull() & (n2 > m2),
        F.concat_ws(
            ".",
            F.slice(F.split(F.col("host"), r"\."), n2 - m2, m2 + 1),
        ),
    )
    return (
        df.join(best, id_col, "left")
        .withColumn("domain", dom)
        .drop("__sfx")
    )


def domain_cap(df: DataFrame, cap: int) -> DataFrame:
    """Keep at most ``cap`` docs per domain, deterministically (md5 of
    the id orders survivors — re-runs and late shards agree, no RNG).
    Rank-then-filter → Spark's WindowGroupLimit rewrite: each map task
    keeps its local top-``cap`` per domain BEFORE the shuffle, so a
    billion-doc crawl domain moves cap x partitions rows, not a
    billion, through the exchange."""
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def domain_quality_prior(df: DataFrame) -> DataFrame:
    """(domain, domain_prior): micro-averaged quality per domain — the
    ratio of DECIMAL sums, exact and order-independent (the oracle-
    determinism recipe from queries.py), never an AVG over doubles."""
    return df.groupBy("domain").agg(
        (
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("domain_prior")
    )


def apply_domain_prior(df: DataFrame, priors: DataFrame) -> DataFrame:
    """Join the domain prior back (broadcast — domains are the reduced
    grain) and blend: doc quality x its domain's prior.  Docs with no
    domain (unknown TLD) keep their raw quality (prior defaults 1).

    Deliberately UNROUNDED: the product of two identical doubles is
    bit-identical across engines, while ROUND(x, 6) is not — a product
    landing on a decimal half-boundary (observed: 0.0770355) rounds
    differently in Spark (HALF_UP over the binary double, which sits a
    hair BELOW the boundary) and DuckDB."""
    blended: Column = F.col("quality") * F.coalesce(
        F.col("domain_prior"), F.lit(1.0)
    )
    return (
        df.join(F.broadcast(priors), "domain", "left")
        .withColumn("prior_weighted_quality", blended)
        .drop("domain_prior")
    )


# Tracking parameters every crawl pipeline strips before URL identity:
# per-click junk that makes one page look like a million distinct URLs.
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)="


def canonicalize_url(df: DataFrame) -> DataFrame:
    """Append ``canonical_url``: the crawl-identity canonical form of
    ``url``.  Two URLs that fetch the same page must canonicalize
    equal; this is the key the web-dedup stage groups on (a crawler
    that skips it re-crawls and re-trains on every utm_source variant
    of every page).

    Normalizations (all codegen'd expressions — no UDF, no shuffle):
      - scheme and host lower-cased
      - default ports dropped (http:80, https:443); explicit
        non-default ports kept
      - fragment dropped (client-side only, never reaches the server)
      - tracking query params dropped (``TRACKING_PARAM_RE``)
      - surviving query params sorted (param order is not identity)
      - trailing slashes trimmed from non-root paths

    NULL-host rows (unparseable URLs) canonicalize to NULL: they have
    no fetch identity and the dedup stage must not collapse them.
    """
    url = F.col("url")
    scheme = F.lower(F.try_parse_url(url, F.lit("PROTOCOL")))
    # strip userinfo (user:pass@) from the authority BEFORE the port
    # strip, matching parse_url HOST semantics — credentials are not
    # fetch identity, so user@example.com and example.com collapse
    # (ADVICE r8)
    auth = F.regexp_replace(
        F.lower(F.try_parse_url(url, F.lit("AUTHORITY"))), r"^[^@]*@", ""
    )
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    host = F.regexp_replace(auth, r":\d+$", "")
    default_port = (
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )
    path = F.regexp_replace(
        F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit("")), r"/+$", ""
    )
    q = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    params = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    q_str = F.array_join(F.array_sort(params), "&")
    canon = F.when(
        host.isNotNull() & (host != ""),
        F.concat(
            scheme,
            F.lit("://"),
            host,
            port_part,
            path,
            F.when(q_str == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), q_str)
            ),
        ),
    )
    return df.withColumn("canonical_url", canon)


def canonical_url_dedup(df: DataFrame) -> DataFrame:
    """Keep the best-quality row per canonical URL (ties broken by
    lowest id — deterministic across re-runs and shard orders).
    Rank-then-filter over the canonical key → Spark's WindowGroupLimit
    rewrite: map-side top-1 per key before the shuffle, so a page with
    a million tracking-param variants ships partitions x 1 rows, not a
    million, through the exchange.  NULL canonical keys (unparseable
    URLs) are all kept — they carry no fetch identity."""
    with_canon = canonicalize_url(df)
    w = Window.partitionBy("canonical_url").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    ranked = with_canon.withColumn("__rk", F.row_number().over(w))
    return ranked.filter(
        F.col("canonical_url").isNull() | (F.col("__rk") == 1)
    ).drop("__rk")
