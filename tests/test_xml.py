"""XML source + sitemap/sitemap-index readers: explicit-schema parse,
the (valid, rejected) contract shared with the CSV/JSONL sources,
namespace-prefixed serializer output, gzip transparency, the
loc-required protocol rule, and the frontier composition into
canonicalize_url."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.sources.xml_source import (
    read_sitemap,
)

SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://ex.com/a?utm_source=feed</loc>
    <lastmod>2026-01-05</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url>
    <loc>https://ex.com/b</loc>
    <lastmod>2026-02-01T10:00:00+00:00</lastmod>
  </url>
  <url>
    <lastmod>2026-03-01</lastmod>
  </url>
</urlset>
"""

def test_read_sitemap_plain_and_gzip(spark, tmp_path):
    """Entries parse with the optional fields NULL when absent; the
    loc-less entry (protocol violation) lands on the REJECT side with
    a reason instead of silently shrinking the frontier; the standard
    sitemap.xml.gz form reads identically through the codec layer."""
    plain = str(tmp_path / "sitemap.xml")
    with open(plain, "w") as f:
        f.write(SITEMAP)
    frontier, rejected = read_sitemap(spark, plain)
    rows = {
        r["url"]: (r["lastmod"], r["changefreq"], r["priority"])
        for r in frontier.collect()
    }
    assert rows == {
        "https://ex.com/a?utm_source=feed": ("2026-01-05", "daily", 0.8),
        "https://ex.com/b": ("2026-02-01T10:00:00+00:00", None, None),
    }
    rej = rejected.collect()
    assert [r["_reject_reason"] for r in rej] == ["loc is required"]

    gz = str(tmp_path / "sitemap.xml.gz")
    with gzip.open(gz, "wt") as f:
        f.write(SITEMAP)
    frontier_gz, _ = read_sitemap(spark, gz)
    rows_gz = {
        r["url"]: (r["lastmod"], r["changefreq"], r["priority"])
        for r in frontier_gz.collect()
    }
    assert rows_gz == rows


def test_read_sitemap_namespace_prefixed(spark, tmp_path):
    """lxml/ElementTree serializers commonly emit prefixed namespaces
    (<ns0:url>); without ignoreNamespace the row tag matches nothing
    and a whole site silently vanishes from the frontier (round-9
    review finding — confirmed live)."""
    p = str(tmp_path / "prefixed.xml")
    with open(p, "w") as f:
        f.write(
            '<ns0:urlset xmlns:ns0='
            '"http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<ns0:url><ns0:loc>https://ex.com/p</ns0:loc>"
            "<ns0:lastmod>2026-01-02</ns0:lastmod></ns0:url>"
            "</ns0:urlset>"
        )
    frontier, rejected = read_sitemap(spark, p)
    assert [(r["url"], r["lastmod"]) for r in frontier.collect()] == [
        ("https://ex.com/p", "2026-01-02")
    ]
    assert rejected.count() == 0


def test_read_sitemap_corrupt_rows_are_rejects_not_drops(spark, tmp_path):
    """A type-mangled entry routes to the reject side with 'malformed
    xml' (PERMISSIVE + _corrupt_record) while well-formed rows still
    parse — the count of bad rows stays observable."""
    p = str(tmp_path / "bad.xml")
    with open(p, "w") as f:
        f.write(
            "<urlset>"
            "<url><loc>https://ex.com/ok</loc><priority>0.5</priority></url>"
            "<url><loc>https://ex.com/bad</loc>"
            "<priority>not-a-number</priority></url>"
            "</urlset>"
        )
    frontier, rejected = read_sitemap(spark, p)
    good = frontier.collect()
    assert [(r["url"], r["priority"]) for r in good] == [
        ("https://ex.com/ok", 0.5)
    ]
    rej = rejected.collect()
    assert len(rej) == 1
    assert rej[0]["_reject_reason"] == "malformed xml"
    assert rej[0]["_corrupt_record"] is not None


def test_sitemap_feeds_url_canonicalizer(spark, tmp_path):
    """The advertised composition: sitemap urls → canonicalize_url
    collapses tracking-param variants of the same page."""
    from hospital_stain_tracker_data_pipeline_spark.operators.web import (
        canonicalize_url,
    )

    p = str(tmp_path / "sitemap.xml")
    with open(p, "w") as f:
        f.write(SITEMAP)
    frontier, _ = read_sitemap(spark, p)
    urls = frontier.select(canonicalize_url(F.col("url")).alias("canon"))
    got = {r["canon"] for r in urls.collect()}
    assert "https://ex.com/a" in got  # utm_source stripped
    assert "https://ex.com/b" in got


def test_read_sitemap_directory_of_shards(spark, tmp_path):
    """A directory of sitemap shards reads as one frontier table —
    the file-source parallelism story."""
    d = tmp_path / "shards"
    d.mkdir()
    for i in range(3):
        with gzip.open(str(d / f"sitemap-{i}.xml.gz"), "wt") as f:
            f.write(
                "<urlset><url><loc>https://ex.com/p/"
                f"{i}</loc></url></urlset>"
            )
    frontier, rejected = read_sitemap(spark, str(d))
    assert frontier.count() == 3
    assert rejected.count() == 0
    assert os.path.isdir(str(d))
