"""URL canonicalization: pinned rules, Spark/DuckDB parity, link extraction."""

import duckdb
import pytest

from pyspark.sql import functions as F

from jarvis_ocr_service_spark.functions.urls import (
    canonical_url_col,
    canonical_url_duck_sql,
)

CASES = [
    ("HTTP://Site3.Example.COM:80/Path/To/Doc7", "http://site3.example.com/Path/To/Doc7"),
    ("https://site4.example.com:443/path/doc8/", "https://site4.example.com/path/doc8"),
    ("http://SITE5.example.com/p?utm_source=x&utm_medium=y", "http://site5.example.com/p"),
    ("http://site6.EXAMPLE.com/p?a=1&utm_campaign=z&b=2", "http://site6.example.com/p?a=1&b=2"),
    ("https://Site0.example.com/Doc11#frag-11", "https://site0.example.com/Doc11"),
    ("http://site1.example.com/doc12///", "http://site1.example.com/doc12"),
    ("https://site2.example.com/", "https://site2.example.com/"),  # root slash kept
    ("http://h.com/x?utm_a=1&utm_b=2&utm_c=3&utm_d=4&utm_e=5&keep=1", "http://h.com/x?keep=1"),
    ("  http://h.com/y  ", "http://h.com/y"),
    ("http://h.com:8080/z", "http://h.com:8080/z"),  # non-default port kept
    ("ftp://H.COM:80/z", "ftp://h.com:80/z"),  # :80 only stripped for http
    ("http://h.com/p?utm=notreally", "http://h.com/p?utm=notreally"),  # not utm_
    ("", ""),
    ("not a url", "not a url"),
]


def test_pinned_rules(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)], "i long, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url_col(F.col("url")).alias("c")).collect()
    }
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_duckdb_mirror_is_identical(spark):
    """The library ships its own DuckDB mirror; the two rule chains must
    produce identical output on every case (plus a generated corpus)."""
    urls = [u for u, _ in CASES] + [
        f"HTTP://Host{k}.COM:80/p{k}?utm_a={k}&utm_b=2&x={k}#f" for k in range(40)
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url_col(F.col("url")).alias("c")).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT i, {canonical_url_duck_sql('url')} AS c FROM "
        f"(SELECT unnest(range({len(urls)})) AS i, unnest(?::VARCHAR[]) AS url)",
        [urls],
    ).fetchall()
    for i, c in rows:
        assert got[i] == c, (urls[i], got[i], c)


def test_canonicalize_is_codegen_only(spark):
    """Canonicalization must stay JVM-side: no Python eval node, no
    exchange — it's a project over the scan."""
    df = spark.createDataFrame([(1, "http://a.com/x")], "id long, url string")
    plan = (
        df.select(canonical_url_col(F.col("url")).alias("c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_outlinks_col_quote_styles_order_and_binary_gating(spark):
    from jarvis_ocr_service_spark.functions.urls import outlinks_col
    from jarvis_ocr_service_spark.sources.pages import _minimal_png

    rows = [
        (0, b'<html><a href="/a">x</a><a href=\'/b\'>y</a>'
            b'<link href = "/c.css"><p>no link</p></html>'),
        (1, b"plain text, not html, href=\"/nope\" is just text? no - "
            b"it has no markup so kind=text"),
        (2, _minimal_png()),         # binary: decode must never run
        (3, b""),                    # empty
        (4, b"<p>nothing here</p>"),
        # latin-1 HTML: accented byte OUTSIDE any href — the whole row is
        # malformed UTF-8, which crashed the old F.decode form (ADVICE r3).
        (5, b'<html><p>caf\xe9</p><a href="/ok">x</a></html>'),
        # latin-1 byte INSIDE the href value: extraction still succeeds,
        # the non-UTF-8 byte surfaces as U+FFFD (pinned replacement).
        (6, b'<html><a href="/caf\xe9/menu">x</a></html>'),
        # UTF-16-LE BOM'd HTML (kind gate says html; bytes are not UTF-8):
        # must not crash; the NUL-interleaved markup simply matches nothing.
        (7, ("\ufeff" + '<html><a href="/u16">x</a></html>').encode("utf-16-le")),
    ]
    df = spark.createDataFrame(rows, "i long, html binary")
    got = {r.i: r.links for r in df.select(
        "i", outlinks_col(F.col("html")).alias("links")
    ).collect()}
    assert got[0] == ["/a", "/b", "/c.css"]  # document order, both quotes
    assert got[2] == [] and got[3] == []
    assert got[4] == []
    assert got[5] == ["/ok"]
    assert got[6] == ["/caf�/menu"]
    assert got[7] == []


def test_anchor_texts_pinned_semantics(spark):
    from jarvis_ocr_service_spark.functions.urls import anchor_texts

    html1 = (
        b"<html><body>"
        b'<a href="/x">Click  Here</a>'
        b"<a class='nav' href='/x'>Click Here</a>"
        b'<a href="/y"><b>bold</b> tail</a>'      # anchor cut at first '<' -> ''
        b'<a href="/z">  spaced   out  </a>'
        b"</body></html>"
    )
    not_html = b"\x89PNG\r\n\x1a\nnot a page <a href='/no'>no</a>"
    df = spark.createDataFrame(
        [(1, bytearray(html1)), (2, bytearray(not_html))],
        "id long, html binary",
    )
    got = {(r.href, r.anchor): r.n for r in anchor_texts(df).collect()}
    assert got == {
        ("/x", "Click Here"): 2,   # quote styles unify; ws collapses
        ("/y", ""): 1,             # nested markup -> empty anchor (pinned)
        ("/z", "spaced out"): 1,
    }


def test_anchor_texts_closed_form_on_built_pages(spark):
    """Boilerplate pages carry exactly the 26 template anchors once each;
    clean pages none — the page-construction spec, extractor-independent."""
    from jarvis_ocr_service_spark.functions.urls import anchor_texts
    from jarvis_ocr_service_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    n_boiler = pages.filter("url LIKE '%/docs/%'").selectExpr(
        "CAST(regexp_extract(url, '/docs/(\\\\d+)$', 1) AS LONG) AS doc_id"
    ).filter("doc_id % 3 = 0").count()
    got = {(r.href, r.anchor): r.n for r in anchor_texts(pages).collect()}
    expected = {(f"/cat{k}", f"Category {k}"): n_boiler for k in range(24)}
    expected[("/about", "About")] = n_boiler
    expected[("/tos", "Terms")] = n_boiler
    assert got == expected
