"""Host/domain-level corpus curation (RefinedWeb/CCNet shape).

Real web corpora curate per REGISTERED DOMAIN, not per document: a host's
document count, aggregate quality, blocklist membership and a per-host
document cap are the knobs (Penedo et al. 2023, "The RefinedWeb Dataset
for Falcon LLM").  Everything here is aggregation-shaped:

- host extraction is ``parse_url`` — a JVM builtin, pushdown-friendly;
- the blocklist is a broadcast join (blocklists are model parameters —
  thousands of rows, never corpus-scale);
- the per-host cap reuses ``relational.quota_sample``'s two-phase
  broadcast-cutoff + shortfall-backstop engine, so the cap never sorts a
  hot host's documents in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataquality_ml_spark.functions.scalar import tokens
from dataquality_ml_spark.operators.relational import local_frame


#: Host bucket for rows whose URL has no parsable host.  NULL keys are
#: invisible to the quota sampler's inner join (NULL never equals NULL),
#: so NULL hosts were silently uncappable and unblockable (ADVICE r5);
#: an explicit bucket makes them first-class — countable, cappable, and
#: blockable like any other host.
UNPARSED_HOST = "(unparsed)"

#: Tracking query parameters stripped by ``canonical_url`` — the
#: analytics decorations (UTM campaign tags, click ids) that make one
#: page surface as many URLs in a crawl.  Bare ``ref`` is deliberately
#: NOT in the list (ADVICE r7): many sites use it functionally (e.g.
#: ``?ref=<branch>`` on code forges), so stripping it would merge
#: genuinely different pages — callers who know their corpus can opt in
#: via ``extra_params``.
TRACKING_PARAM_RE = (
    "utm_[A-Za-z0-9_]+|gclid|fbclid|msclkid|mc_eid|igshid|ref_src"
)


def with_host(df: DataFrame, url_col: str = "url", out: str = "host") -> DataFrame:
    """Extract the registered host from a URL column (``parse_url`` —
    engine builtin; the DuckDB oracle mirrors it with a regexp).
    Unparsable URLs land in the explicit ``UNPARSED_HOST`` bucket rather
    than NULL, so downstream cap/blocklist joins see them."""
    return df.withColumn(
        out,
        # try_parse_url: NULL (not an error) on malformed input — Spark 4's
        # parse_url raises INVALID_URL, which would fail the whole job on
        # one bad crawl record
        F.coalesce(
            F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit(UNPARSED_HOST)
        ),
    )


def canonical_url(col, extra_params: str | None = None):
    """Canonical form of a URL — pure builtin regexp algebra (no UDF, so
    it rides whole-stage codegen and the DuckDB oracle replays it
    verbatim with ``regexp_replace(..., 'g')``):

    - strip the fragment (``#...``);
    - lowercase the scheme and authority (never the path — paths are
      case-sensitive);
    - collapse ``http://`` to ``https://`` and drop a LEADING ``www.``
      (the two aliasing axes crawl frontiers actually see);
    - delete tracking query parameters (``TRACKING_PARAM_RE``, plus an
      opt-in ``extra_params`` alternation such as ``"ref|tag"``), then
      collapse the separator debris they leave (``?&`` runs, trailing
      ``?``/``&``);
    - normalize ``/?`` to ``?`` at the path/query boundary and strip one
      trailing slash from a query-less URL.

    The structural rules are ANCHORED to the start/boundary of the
    OUTER url (ADVICE r7): a URL carried inside a query parameter
    (``?next=https://www.x.com/``) keeps its ``www.`` and trailing
    slash — only the page's own surface forms collapse.

    Strings with no ``scheme://authority`` prefix are returned trimmed
    but otherwise untouched — unparsable URLs stay distinct instead of
    collapsing into one another."""
    params = TRACKING_PARAM_RE if not extra_params else (
        f"{TRACKING_PARAM_RE}|{extra_params}"
    )
    u = F.regexp_replace(F.trim(col), "#.*$", "")
    auth = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    c = F.concat(
        F.lower(F.regexp_extract(u, f"({auth})", 1)),
        F.regexp_extract(u, f"{auth}(.*)$", 1),
    )
    c = F.regexp_replace(c, "^http://", "https://")
    c = F.regexp_replace(c, "^(https?://)www\\.", "$1")
    c = F.regexp_replace(c, f"([?&])({params})=[^&#]*", "$1")
    c = F.regexp_replace(c, "([?&])[?&]+", "$1")
    c = F.regexp_replace(c, "[?&]+$", "")
    c = F.regexp_replace(c, "^([^?]*)/\\?", "$1?")
    c = F.regexp_replace(c, "^([^?]*)/$", "$1")
    return F.when(F.trim(col).rlike(auth), c).otherwise(F.trim(col))


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Exact URL-level dedup on the canonical form: one map-side-combined
    groupBy on ``canonical_url`` — (canon_url, n_docs, keep_id), keeping
    the min-id document per canonical URL (the deterministic survivor
    rule ``dedup_exact`` uses).  At 100 TB this is a single shuffle on
    the canonical-url key; the canonicalization itself is codegen'd
    string algebra on the scan."""
    return (
        df.withColumn("canon_url", canonical_url(F.col(url_col)))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def host_curation_report(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    blocklist: list[str] | None = None,
    cap: int = 5,
) -> DataFrame:
    """Per-host curation summary: document count, mean token count,
    blocklist flag, and how many documents survive the per-host cap —
    (host, n_docs, avg_tokens, blocked, n_kept), one row per host.

    Shape: ONE corpus scan for the host+token aggregation; the blocklist
    is a broadcast left join; kept counts come from the hash-rank quota
    sampler (candidates only ever reach the rank window) with blocked
    hosts keeping zero.  At 100 TB hosts are the skew axis — every
    aggregate here is map-side combinable and the cap is the skew-proof
    two-phase sampler, not a corpus window."""
    from dataquality_ml_spark.operators.relational import quota_sample

    spark = df.sparkSession
    hosts = with_host(df, url_col).select(
        "host", F.col(id_col), F.size(tokens(text_col)).alias("_ntok")
    )
    agg = hosts.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_ntok"), 4).alias("avg_tokens"),
    )
    bl = local_frame(spark, [(h,) for h in (blocklist or [])], "host string").withColumn(
        "_blocked", F.lit(1)
    )
    agg = agg.join(F.broadcast(bl), "host", "left").select(
        "host",
        "n_docs",
        "avg_tokens",
        F.coalesce("_blocked", F.lit(0)).alias("blocked"),
    )
    kept = (
        quota_sample(hosts.select("host", id_col), "host", id_col, cap)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("_nk"))
    )
    return agg.join(kept, "host", "left").select(
        "host",
        "n_docs",
        "avg_tokens",
        "blocked",
        F.when(F.col("blocked") == 1, F.lit(0))
        .otherwise(F.coalesce(F.col("_nk"), F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )
