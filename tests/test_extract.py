"""HTML → text extraction + URL canonicalization (operators/extract.py).

The north-star invariant under test: byte-identical extracted text per
url — the distributed extractors (JVM codegen chain and Arrow pandas UDF)
must reproduce the driver-side reference implementation
(``sources.fixtures.extract_text``) byte-for-byte.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from company_name_matching_spark.operators import extract
from company_name_matching_spark.sources import fixtures


ADVERSARIAL = [
    # entity ordering trap: one level of unescape only
    "<p>&amp;lt;keep&amp;gt; &amp;amp;</p>",
    # all five standard entities + nbsp
    "<b>a &lt; b &gt; c &quot;d&quot; &#39;e&#x27; &amp; f&nbsp;g</b>",
    # tags glued to words must still word-separate
    "x<br/>y<div>z</div>",
    # whitespace zoo
    "<p>  a\t\tb\nc\r\nd  </p>",
    # attribute noise inside tags
    '<a href="http://e.com?a=1&amp;b=2" title=">">link</a>',
    # empty / markup-only
    "",
    "<html><body></body></html>",
    # vietnamese text with diacritics (multi-byte utf-8 round trip)
    "<h1>CÔNG TY TNHH MỘT THÀNH VIÊN ĐẦU TƯ</h1>",
]


def _pages_df(spark, texts):
    rows = [(f"u{i}", bytearray(t.encode("utf-8"))) for i, t in enumerate(texts)]
    rows.append(("u_null", None))
    return spark.createDataFrame(rows, "url string, html binary")


class TestExtractParity:
    def test_jvm_and_pandas_match_reference_bytes(self, spark):
        df = _pages_df(spark, ADVERSARIAL)
        jvm = {r.url: r.text for r in extract.extract_pages(df).collect()}
        pnd = {
            r.url: r.text
            for r in extract.extract_pages(df, method="pandas").collect()
        }
        for r in df.collect():
            want = fixtures.extract_text(
                bytes(r.html) if r.html is not None else None
            )
            assert jvm[r.url] == want, r.url
            assert pnd[r.url] == want, r.url

    def test_fixture_corpus_roundtrip(self, spark):
        """fixtures.render_html → extractor reproduces the text column
        byte-for-byte on the full synthetic pages corpus (both paths)."""
        pages = fixtures.pages_dataframe(spark, n_companies=40, per_company=3)
        for method in ("jvm", "pandas"):
            out = extract.extract_pages(
                pages.select("url", "html", F.col("text").alias("want")),
                out_col="got",
                method=method,
            )
            bad = out.where(F.col("got") != F.col("want")).count()
            assert bad == 0, method

    def test_null_html_empty_string(self, spark):
        df = _pages_df(spark, [])
        for method in ("jvm", "pandas"):
            (row,) = extract.extract_pages(df, method=method).collect()
            assert row.text == ""

    def test_pandas_path_full_entity_table(self, spark):
        """Named entities beyond the standard five resolve only on the
        pandas path — the documented split between the codegen default
        and the full-``html.unescape`` path for real crawl HTML."""
        df = _pages_df(spark, ["<p>caf&eacute; &hellip;</p>"])
        df = df.where(F.col("html").isNotNull())
        (pnd,) = extract.extract_pages(df, method="pandas").collect()
        assert pnd.text == "café …"
        (jvm,) = extract.extract_pages(df, method="jvm").collect()
        assert jvm.text == "caf&eacute; &hellip;"  # passes through, no mangling

    def test_unknown_method_raises(self, spark):
        with pytest.raises(ValueError, match="unknown extraction method"):
            extract.extract_pages(_pages_df(spark, []), method="bs4")


CANON_CASES = [
    (
        "HTTPS://WWW.Example.COM:443/Path/x?utm_source=a&id=3&gclid=z#frag",
        "https://www.example.com/Path/x?id=3",
    ),
    ("http://Host.com:80/", "http://host.com/"),
    ("https://h.com", "https://h.com/"),
    ("https://h.com/p?utm_campaign=x", "https://h.com/p"),
    # non-default port is preserved; param order of survivors preserved
    ("https://h.com:8443/a?b=2&utm_x=1&a=1", "https://h.com:8443/a?b=2&a=1"),
    # :443 on http is NOT a default port
    ("http://h.com:443/", "http://h.com:443/"),
    # fragment-only difference collapses
    ("https://h.com/p#a", "https://h.com/p"),
]


class TestUrlCanonicalization:
    def test_known_values(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
        got = {
            r.url: r.c
            for r in df.select(
                "url", extract.canonicalize_url_expr("url").alias("c")
            ).collect()
        }
        for u, want in CANON_CASES:
            assert got[u] == want, u

    def test_idempotent(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
        once = df.select(extract.canonicalize_url_expr("url").alias("url"))
        twice = once.select(
            F.col("url").alias("a"),
            extract.canonicalize_url_expr("url").alias("b"),
        )
        assert twice.where(F.col("a") != F.col("b")).count() == 0


class TestLatestSnapshot:
    def _snapshots(self, spark):
        base = dt.datetime(2026, 1, 1)
        rows = [
            # three fetches of one page: mixed case, port, tracking params
            ("https://h.com/p?utm_source=x", base + dt.timedelta(days=1)),
            ("HTTPS://H.com:443/p", base + dt.timedelta(days=2)),
            ("https://h.com/p#frag", base),
            # timestamp tie → raw-url ascending tiebreak
            ("https://t.com/a?z=1", base),
            ("https://t.com/a?z=1&utm_y=2", base),
            # singleton
            ("https://s.com/only", base),
        ]
        return spark.createDataFrame(rows, "url string, warc_ts timestamp")

    def test_latest_wins_and_counts(self, spark):
        out = {
            r.canonical_url: r
            for r in extract.latest_snapshot_per_url(self._snapshots(spark)).collect()
        }
        assert set(out) == {"https://h.com/p", "https://t.com/a?z=1", "https://s.com/only"}
        h = out["https://h.com/p"]
        assert h.url == "HTTPS://H.com:443/p" and h.n_snapshots == 3
        t = out["https://t.com/a?z=1"]
        # equal warc_ts: lexicographically smaller raw url wins
        assert t.url == "https://t.com/a?z=1" and t.n_snapshots == 2
        assert out["https://s.com/only"].n_snapshots == 1

    def test_partition_invariance(self, spark):
        df = self._snapshots(spark)
        a = sorted(
            (r.canonical_url, r.url)
            for r in extract.latest_snapshot_per_url(df.repartition(7)).collect()
        )
        b = sorted(
            (r.canonical_url, r.url)
            for r in extract.latest_snapshot_per_url(df.coalesce(1)).collect()
        )
        assert a == b


class TestPipelineFrontStage:
    def test_crawl_raw_pages_cluster_identically(self, spark):
        """run_pipeline on a pages table WITHOUT a text column (html only)
        reproduces the clusters of the pre-extracted table — extraction is
        a genuine front stage, not a test convenience."""
        from company_name_matching_spark.plans.pipeline import run_pipeline

        pages = fixtures.pages_dataframe(spark, n_companies=30, per_company=3)
        with_text = run_pipeline(spark, pages)
        raw = run_pipeline(spark, pages.drop("text"))

        def cluster_sets(res):
            rows = res.clusters.select("record_id", "cluster_id").collect()
            by_c = {}
            for r in rows:
                by_c.setdefault(r.cluster_id, set()).add(r.record_id)
            # sorted lists, not frozensets: set '<' is a partial order, so
            # sorting frozensets depends on the collect order
            return sorted(sorted(v) for v in by_c.values())

        assert cluster_sets(with_text) == cluster_sets(raw)
