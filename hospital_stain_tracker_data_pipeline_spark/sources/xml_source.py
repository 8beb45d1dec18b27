"""XML source (Spark 4's built-in ``xml`` format) + the web-crawl XML
shape a corpus pipeline actually meets: sitemaps (the standard
crawl-frontier seed, sitemaps.org protocol).

Same schema-on-read discipline as the CSV source (SURVEY.md
§2.1/§2.2): an EXPLICIT schema — never inference, which would scan the
input twice and silently widen types — with unparseable rows routed to
a ``_corrupt_record`` side-channel and returned on a reject frame with
a reason column (the ``read_hhs_csv`` contract: route
bad rows, never silently drop them — a malformed sitemap shard must
show up as N reject rows, not as a quietly smaller frontier).
Gzipped inputs (``sitemap.xml.gz`` is the protocol's own convention)
decompress transparently through the file-source codec path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CORRUPT = "_corrupt_record"

# sitemaps.org <urlset>: one <url> entry per page. Only <loc> is
# required by the protocol; the optional fields stay NULL when absent.
SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("loc", T.StringType(), True),
        T.StructField("lastmod", T.StringType(), True),
        T.StructField("changefreq", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ]
)

def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType,
) -> DataFrame:
    """Read XML with an explicit row tag and schema; rows that fail to
    parse land whole in ``_corrupt_record`` (PERMISSIVE mode) when the
    schema declares that column, so one mangled record never kills a
    corpus-scale batch. Namespace prefixes are ignored
    (``ignoreNamespace``): lxml/ElementTree serializers commonly emit
    ``<ns0:url>`` — without this, a prefixed sitemap would match no
    row tags and silently parse to ZERO rows. The built-in source
    splits by element boundary, so a directory of files parallelizes
    like any other file source; per-file gzip is handled by the codec
    layer."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("ignoreNamespace", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .schema(schema)
        .load(path)
    )


def _split_valid(
    raw: DataFrame, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """(valid, rejected) split on the corrupt side-channel + the
    protocol's loc-required rule — the package's source contract."""
    reason = F.when(F.col(_CORRUPT).isNotNull(), "malformed xml").when(
        F.col("loc").isNull(), "loc is required"
    )
    tagged = raw.withColumn("_reject_reason", reason)
    cols = [f.name for f in schema.fields if f.name != _CORRUPT]
    valid = tagged.filter(F.col("_reject_reason").isNull()).select(*cols)
    rejected = tagged.filter(F.col("_reject_reason").isNotNull()).select(
        *cols, _CORRUPT, "_reject_reason"
    )
    return valid, rejected


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
    )


def read_sitemap(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """``(frontier, rejected)`` from a sitemap (or a directory/glob of
    them, plain or ``.xml.gz``). The frontier side is ``(url, lastmod,
    changefreq, priority)`` — feed ``url`` straight into
    ``operators.web.canonicalize_url``/``dedup_exact_urls`` and join
    ``lastmod`` against the lake's fetch dates to pick what to
    re-crawl. Entries without a ``<loc>`` (protocol violation) and
    unparseable ``<url>`` blocks come back on the REJECT side with a
    reason — a truncated shard shows up as N reject rows, never as a
    silently smaller frontier. ``lastmod`` stays a raw string
    (sitemaps mix date-only and full W3C datetime forms; parse with
    ``try_to_date`` downstream where the precision matters)."""
    raw = read_xml(
        spark, path, row_tag="url", schema=_with_corrupt(SITEMAP_SCHEMA)
    )
    valid, rejected = _split_valid(raw, SITEMAP_SCHEMA)
    return (
        valid.select(
            F.col("loc").alias("url"), "lastmod", "changefreq", "priority"
        ),
        rejected,
    )

