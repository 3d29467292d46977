"""DOM-fidelity link tier: differential report vs the regex scanner.

The three documented divergence classes (unclosed tags, '>' inside
attribute values, script-embedded markup) each get a fixture showing
the DOM tier produces the ParserMapper/browser answer where the
regex tier cannot; a well-formed corpus shows the tiers agree, so
gates stay green under either.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from commoncrawl_crawler_spark.functions import html as htmlfn


def test_dom_emits_unclosed_anchor_regex_misses():
    doc = '<p><a href="http://u.example/1">dangling text'
    assert htmlfn.extract_links(doc) == []  # regex needs </a>
    assert htmlfn.extract_links_dom(doc) == [
        ("http://u.example/1", "a", "dangling text")
    ]


def test_dom_survives_gt_inside_attribute_value():
    doc = '<a href="http://u.example/2" title="a>b">text</a>'
    dom = htmlfn.extract_links_dom(doc)
    assert dom == [("http://u.example/2", "a", "text")]
    # the regex tier finds the href but corrupts the anchor: its
    # tag-end scan stops at the '>' inside title
    rx = htmlfn.extract_links(doc)
    assert [r[0] for r in rx] == ["http://u.example/2"]
    assert rx[0][2] != "text"


def test_dom_ignores_script_embedded_markup():
    doc = (
        "<script>var s=\"<a href='http://fake.example/'>no</a>\";"
        "</script><a href=\"http://real.example/\">yes</a>"
    )
    dom = htmlfn.extract_links_dom(doc)
    assert dom == [("http://real.example/", "a", "yes")]
    # regex extracts the script literal too
    rx_urls = {r[0] for r in htmlfn.extract_links(doc)}
    assert "http://fake.example/" in rx_urls


def test_dom_implicit_anchor_close_and_frames():
    doc = (
        '<a href="http://a.example/1">one'
        '<a href="http://a.example/2">two</a>'
        '<frameset><frame src="http://f.example/n"></frameset>'
        '<iframe src="http://f.example/i"></iframe>'
        '<meta http-equiv="refresh" content="3;URL=http://r.example/x">'
    )
    dom = htmlfn.extract_links_dom(doc)
    assert ("http://a.example/1", "a", "one") in dom  # implicit close
    assert ("http://a.example/2", "a", "two") in dom
    assert ("http://f.example/n", "frame", "") in dom
    assert ("http://f.example/i", "iframe", "") in dom
    assert ("http://r.example/x", "meta_refresh", "") in dom


def test_tiers_agree_on_well_formed_corpus():
    """On well-formed markup (every gate's synthesized HTML is) the
    two tiers must return the SAME link sets -- the guarantee that
    keeps the oracle gates green under either tier."""
    docs = [
        '<html><body><a href="http://h.example/p">click <b>me</b></a>'
        '<iframe src="http://h.example/ad"></iframe></body></html>',
        '<head><meta http-equiv="refresh" '
        'content="5;url=http://next.example/"></head>',
        '<a href="http://x.example/1">one</a>'
        '<a href="http://x.example/2">two</a>'
        '<frame src="http://x.example/f">',
    ]
    for doc in docs:
        assert sorted(htmlfn.extract_links(doc)) == sorted(
            htmlfn.extract_links_dom(doc)
        ), doc


def test_gate_extraction_identical_under_both_tiers(spark):
    """The fn_extract_links gate shape (synthesized well-formed HTML
    -> tiered UDF -> exploded rows) returns identical rows whichever
    tier SPARK_GRAFT_HTML_TIER selects."""
    df = spark.createDataFrame(
        [(i,
          f'<html><head><title>Doc {i}</title></head><body>'
          f'<a href="http://s{i}.example.com/{i}">anchor {i}</a>'
          f'<iframe src="http://frame.s{i}.net"></iframe></body></html>')
         for i in range(50)],
        "doc_id long, html string",
    )

    def run(tier):
        os.environ["SPARK_GRAFT_HTML_TIER"] = tier
        try:
            return sorted(
                map(
                    tuple,
                    df.select(
                        "doc_id",
                        F.explode(
                            htmlfn.extract_links_tiered_udf(F.col("html"))
                        ).alias("l"),
                    )
                    .select("doc_id", "l.url", "l.link_type", "l.anchor")
                    .collect(),
                )
            )
        finally:
            os.environ.pop("SPARK_GRAFT_HTML_TIER", None)

    assert run("regex") == run("dom")


def test_pathological_corpus_tiers_stay_consistent():
    """Real-world pathological fixtures, chosen to exercise the
    judgment calls the reference's parser makes
    (service/parser/server/ParseWorker.java:79-88 link-type map,
    :697 base-href-only-inside-head; mapred/ec2/parser/
    ParserMapper.java:340-733 drives it): markup inside comments must
    not emit links, '>' inside quoted attributes must not truncate
    the tag, script bodies are CDATA even when they contain
    "</a><a href=...>", meta refresh parses with and without quotes,
    and a dangling <a> at EOF still emits.  The DOM tier is the
    arbiter; where the regex tier is defined (well-formed subset) the
    two must agree."""
    from commoncrawl_crawler_spark.functions import html as H

    cases = {
        # comments hide markup (every browser; regex tier must not
        # be confused because the comment text is still scanned)
        "<!-- <a href='/ghost'>x</a> --><a href='/real'>r</a>":
            [("/real", "a", "r")],
        # '>' inside a quoted attribute value
        '<a href="/q?a>b" title="x>y">t</a>':
            [("/q?a>b", "a", "t")],
        # script CDATA containing anchor-shaped text
        "<script>var s='</i>'; d.write('<a href=/js>j</a>');"
        "</script><a href='/after'>A</a>":
            [("/after", "a", "A")],
        # meta refresh: quoted, unquoted, mixed case
        "<meta http-equiv='REFRESH' content='5; URL=/next'>":
            [("/next", "meta_refresh", "")],
        # dangling anchor at EOF
        "<a href='/open'>tail text":
            [("/open", "a", "tail text")],
        # consecutive anchors: implicit close (browser behavior)
        "<a href='/1'>one<a href='/2'>two</a>":
            [("/1", "a", "one"), ("/2", "a", "two")],
        # iframe self-closing + frame in frameset
        "<frameset><frame src='/f1'></frameset><iframe src='/f2'/>":
            [("/f1", "frame", ""), ("/f2", "iframe", "")],
    }
    for doc, want in cases.items():
        got = H.extract_links_dom(doc)
        assert got == want, (doc, got, want)


def test_reference_link_type_map_documented_subset():
    """The reference extracts 7 tag types (ParseWorker.java:82-88:
    a/area/frame/iframe/script/link/img).  This engine's link UDF
    deliberately extracts the NAVIGATION subset (a/frame/iframe +
    meta refresh) -- resource links (img/script/link) are covered by
    the page-asset profile in the WAT metadata path instead.  Pin the
    subset so an accidental widening shows up here (it would change
    the fn_extract_links gate contract)."""
    from commoncrawl_crawler_spark.functions import html as H

    doc = (
        "<head><link rel='stylesheet' href='/s.css'>"
        "<script src='/j.js'></script></head>"
        "<body><img src='/i.png'>"
        "<map><area href='/a1'></map>"
        "<a href='/nav'>n</a></body>"
    )
    got = H.extract_links_dom(doc)
    assert got == [("/nav", "a", "n")]
