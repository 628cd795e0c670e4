"""CDX index generation — the lookup artifact web archives build next
to their WARCs (the CDX(J) file format used by Common Crawl's index and
every wayback machine): one line per capture, keyed by the URL's SURT
form + a 14-digit timestamp, sorted so range scans answer
"all captures of this URL/prefix".

SURT (Sort-friendly URI Reordering Transform): scheme dropped, host
lowercased / ``www.`` and default ports stripped / label order
REVERSED with commas, then ``)`` + path (lowercased) with query params
sorted — ``https://News.Example.com:443/A/b?z=1&a=2`` →
``com,example,news)/a/b?a=2&z=1``.

The second URL key, :func:`canonical_url`, keeps path and query case
and drops tracking params; :func:`dedup_by_canonical_url` keeps the
first capture per canonical URL.

Everything is JVM column work (split / reverse / array_join /
sort_array / regexp), so index generation over 10^12 captures is a
narrow map followed by one sort on the (surt, ts) key — exactly the
partitioned write a range-queryable index wants (``sortWithinPartitions``
after ``repartitionByRange`` keeps the global order property without a
single-reducer sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def surt_key(url: Column) -> Column:
    """URL column -> SURT key column, pure JVM."""
    u = F.regexp_replace(F.trim(url), r"#.*$", "")  # drop fragment
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    tail = F.lower(F.regexp_replace(rest, r"^[^/?]*", ""))
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.sort_array(F.split(query, "&")), "&")
    return F.concat(
        rev, F.lit(")"), path,
        F.when(query == "", F.lit(""))
        .otherwise(F.concat(F.lit("?"), sorted_q)))


def canonical_url(col: Column) -> Column:
    """Canonical URL for dedup keys, pure JVM (the standard CC-pipeline
    normalization): lowercase scheme+host, strip a leading 'www.', drop
    the fragment, drop utm_*/fbclid/gclid tracking params, collapse a
    trailing '/', default-port removal. Returns a string column."""
    u = F.trim(col)
    # split off fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # scheme + host lowercased; keep path/query case
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    tail = F.regexp_replace(rest, r"^[^/?]*", "")
    # strip tracking params (handles first/middle/last positions)
    tail = F.regexp_replace(
        tail, r"([?&])(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*", "$1")
    tail = F.regexp_replace(tail, r"[?&]+$", "")
    tail = F.regexp_replace(tail, r"\?&", "?")
    tail = F.regexp_replace(tail, r"&&+", "&")
    # collapse trailing slash on a bare path
    tail = F.when(tail == "/", F.lit("")).otherwise(tail)
    return F.when(
        scheme == "", u  # not a URL; pass through untouched
    ).otherwise(F.concat(scheme, F.lit("://"), host, tail))


def dedup_by_canonical_url(pages: DataFrame,
                           url_col: str = "url") -> DataFrame:
    """First page per canonical URL wins (storage order via warc_ts then
    raw url — deterministic), the URL-level exact-dedup stage every CC
    pipeline runs before content dedup."""
    key = canonical_url(F.col(url_col)).alias("__canon")
    w = Window.partitionBy("__canon").orderBy("warc_ts", url_col)
    return (
        pages.withColumn("__canon", key)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdx_timestamp(ts: Column) -> Column:
    """Timestamp column -> the CDX 14-digit yyyyMMddHHmmss key."""
    return F.date_format(ts, "yyyyMMddHHmmss")


def cdx_index(records: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts", status_col: str = "http_status",
              mime_col: str = "content_type",
              body_col: str = "body",
              buckets: int = 64) -> DataFrame:
    """WARC-record rows -> globally range-ordered CDX entries
    (surt, ts14, url, status, mime, digest, length).

    The digest is the body's md5 (the reference CDX uses sha1-b32; md5
    is the container's built-in — same role, content-addressed). Global
    order comes from repartitionByRange(surt, ts) + sortWithinPartitions:
    files concatenate in bucket order into one sorted index, no
    single-reducer sort anywhere.
    """
    e = records.select(
        surt_key(F.col(url_col)).alias("surt"),
        cdx_timestamp(F.col(ts_col)).alias("ts"),
        F.col(url_col).alias("url"),
        F.col(status_col).alias("status"),
        F.col(mime_col).alias("mime"),
        F.md5(F.col(body_col)).alias("digest"),
        F.length(F.col(body_col)).cast("long").alias("length"),
    )
    return e.repartitionByRange(buckets, "surt", "ts") \
        .sortWithinPartitions("surt", "ts")
