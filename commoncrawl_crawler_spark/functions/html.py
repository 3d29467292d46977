"""HTML + feed parsing: links, title, meta tags, RSS/ATOM items
(SURVEY.md 2.8).

Reference: ParserMapper.java:340-733 + util/HTMLDomUtils.java +
the vendored Dapper DOM parser (~3,000 LoC) extract <a>/<frame>/
meta-refresh links, titles, and meta tags from crawled HTML; feed
documents are parsed into typed items at ParserMapper.java:685
(parseFeedDocument -> rssFeedToJson/atomFeedToJson), feeding the
RSS/ATOM link types of the crawl DB (operators/crawldb.py:38-40).

Here: TWO tiers behind one contract. The default is a regex
extractor in an Arrow-batched pandas UDF -- the same fidelity class
as the reference's tag scanner; regexes compile once per executor,
not per row. extract_links_dom / extract_links_tiered_udf add a
DOM-semantics tier (a walk over the stdlib html.parser tokenizer)
restoring the reference's Dapper-DOM behavior on malformed markup:
unclosed tags, '>' in attribute values, script-embedded markup
(differential fixtures: tests/test_html_dom_tier.py). Select with SPARK_GRAFT_HTML_TIER=dom.

Returns typed nested rows (array<struct>) -- the Spark-native shape
for one-to-many parse output (reference used multi-sink
SequenceFiles, ParserOutputFormat.java:60-96).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

_HREF = re.compile(
    r"""<a\b[^>]*?\bhref\s*=\s*["']?([^"'\s>]+)["']?[^>]*>(.*?)</a>""",
    re.IGNORECASE | re.DOTALL,
)
_FRAME = re.compile(
    r"""<(i?)frame\b[^>]*?\bsrc\s*=\s*["']?([^"'\s>]+)["']?""", re.IGNORECASE
)
_META_REFRESH = re.compile(
    r"""<meta\b[^>]*?http-equiv\s*=\s*["']?refresh["']?[^>]*?"""
    r"""content\s*=\s*["'][^"']*?url\s*=\s*([^"'\s>]+)""",
    re.IGNORECASE,
)
_TITLE = re.compile(r"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)
_META_TAG = re.compile(
    r"""<meta\b[^>]*?\bname\s*=\s*["']?([^"'\s>]+)["']?[^>]*?"""
    r"""\bcontent\s*=\s*["']([^"']*)["']""",
    re.IGNORECASE,
)
_TAG_STRIP = re.compile(r"<[^>]+>")

LINKS_TYPE = "array<struct<url:string,link_type:string,anchor:string>>"


def extract_links(html: str | None) -> list[tuple[str, str, str]]:
    """All links of one page: (url, link_type, anchor_text)."""
    if not html:
        return []
    out = []
    for m in _HREF.finditer(html):
        anchor = _TAG_STRIP.sub("", m.group(2)).strip()
        out.append((m.group(1), "a", anchor))
    for m in _FRAME.finditer(html):
        # iframe and frame stay DISTINCT link types: the published WAT
        # convention separates IFRAME@/src from FRAME@/src
        kind = "iframe" if m.group(1) else "frame"
        out.append((m.group(2), kind, ""))
    for m in _META_REFRESH.finditer(html):
        out.append((m.group(1), "meta_refresh", ""))
    return out


def extract_title(html: str | None) -> str | None:
    if not html:
        return None
    m = _TITLE.search(html)
    return _TAG_STRIP.sub("", m.group(1)).strip() if m else None


def extract_meta_tags(html: str | None) -> dict[str, str]:
    if not html:
        return {}
    return {m.group(1).lower(): m.group(2) for m in _META_TAG.finditer(html)}


# ---------------------------------------------------------------------------
# RSS / ATOM feeds (ParserMapper.java:685 parseFeedDocument capability)
# ---------------------------------------------------------------------------

FEED_ITEMS_TYPE = (
    "array<struct<title:string,url:string,item_id:string,"
    "published:string,author:string,summary:string>>"
)


def _local(tag: str) -> str:
    """Namespace-agnostic local tag name ('{ns}title' -> 'title')."""
    return tag.rsplit("}", 1)[-1].lower()


def detect_feed_type(content: str | None) -> str | None:
    """'rss' (incl. RDF), 'atom', or None -- the Channel-vs-Feed
    dispatch of parseFeedDocument."""
    if not content:
        return None
    head = content[:1024].lower()
    if "<rss" in head or "<rdf" in head:
        return "rss"
    if "<feed" in head:
        return "atom"
    return None


def extract_feed_items(
    content: str | None,
) -> list[tuple[str | None, ...]]:
    """Typed feed items: (title, url, item_id, published, author,
    summary) per <item> (RSS) or <entry> (ATOM). Unparsable XML
    yields [] -- the reference increments a counter and moves on
    (EXCEPTION_DURING_FEED_PARSE)."""
    ftype = detect_feed_type(content)
    if ftype is None:
        return []
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return []
    want = "item" if ftype == "rss" else "entry"
    items = []
    for el in root.iter():
        if _local(el.tag) != want:
            continue
        f: dict[str, str] = {}
        for ch in el:
            name = _local(ch.tag)
            text = (ch.text or "").strip()
            if name == "link":
                if ftype == "atom":
                    # rel defaults to 'alternate'; first alternate wins
                    if ch.get("rel", "alternate") == "alternate":
                        f.setdefault("url", ch.get("href", ""))
                elif text:
                    f.setdefault("url", text)
            elif name == "title":
                f.setdefault("title", text)
            elif name in ("guid", "id"):
                f.setdefault("item_id", text)
            elif name in ("pubdate", "published", "updated", "date"):
                f.setdefault("published", text)
            elif name in ("author", "creator"):
                nm = text
                for sub in ch:
                    if _local(sub.tag) == "name":
                        nm = (sub.text or "").strip()
                f.setdefault("author", nm)
            elif name in ("description", "summary", "content"):
                f.setdefault("summary", text)
        items.append(
            tuple(
                f.get(k)
                for k in (
                    "title",
                    "url",
                    "item_id",
                    "published",
                    "author",
                    "summary",
                )
            )
        )
    return items


def extract_feed_links(
    content: str | None,
) -> list[tuple[str, str, str]]:
    """Feed items as typed links (url, link_type, anchor=title) so
    they flow into the link graph beside <a>/frame links -- the
    RSS/ATOM link emission of LinkGraphDataEmitter (link types
    TYPE_ATOM_LINK/TYPE_RSS_LINK, operators/crawldb.py:39-40)."""
    ftype = detect_feed_type(content)
    if ftype is None:
        return []
    return [
        (item[1], f"{ftype}_item", item[0] or "")
        for item in extract_feed_items(content)
        if item[1]
    ]


@lru_cache(maxsize=None)
def _feed_items_udf():
    @pandas_udf(FEED_ITEMS_TYPE)
    def _udf(content: pd.Series) -> pd.Series:
        return content.map(extract_feed_items)

    return _udf


def extract_feed_items_udf(col: Column) -> Column:
    return _feed_items_udf()(col)


@lru_cache(maxsize=None)
def _links_udf():
    @pandas_udf(LINKS_TYPE)
    def _udf(html: pd.Series) -> pd.Series:
        return html.map(extract_links)

    return _udf


def extract_links_udf(col: Column) -> Column:
    return _links_udf()(col)


@lru_cache(maxsize=None)
def _title_udf():
    @pandas_udf("string")
    def _udf(html: pd.Series) -> pd.Series:
        return html.map(extract_title)

    return _udf


def extract_title_udf(col: Column) -> Column:
    return _title_udf()(col)


@lru_cache(maxsize=None)
def _meta_udf():
    @pandas_udf("map<string,string>")
    def _udf(html: pd.Series) -> pd.Series:
        return html.map(extract_meta_tags)

    return _udf


def extract_meta_tags_udf(col: Column) -> Column:
    return _meta_udf()(col)


def html_text_expr(col: Column) -> Column:
    """HTML -> visible plain text as a PURE Column expression -- the
    WET-conversion text extraction (CommonCrawl ships one `conversion`
    record per page whose block is exactly this projection of the HTML).

    Reference analog: ParserMapper.java's text accumulation over the
    Dapper DOM walk; here the same fidelity class as the regex link
    scanner above, but JVM-side so the WET derivation pipeline has no
    Python in the hot path at all:

      1. drop <script>/<style> subtrees (their text is never visible),
      2. strip every remaining tag to a space (block boundaries become
         word boundaries, matching the reference's node-joins-by-space),
      3. decode the five XML built-in entities (&amp; LAST so
         '&amp;lt;' round-trips correctly),
      4. collapse all whitespace runs and trim.

    Every step is expressible in ANSI SQL (regexp_replace + replace),
    so WET gates can be hash-checked against a DuckDB oracle.
    """
    from pyspark.sql import functions as F

    t = F.regexp_replace(
        col, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    t = F.regexp_replace(t, "<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# ---------------------------------------------------------------------------
# DOM-fidelity link extraction tier (ParserMapper.java:340-733 parity)
# ---------------------------------------------------------------------------
#
# The regex tier above matches the reference's tag-scanner fidelity on
# well-formed markup but diverges from DOM semantics on (a) unclosed
# <a> tags (regex requires the closing tag), (b) '>' inside attribute
# values (the regex's [^>]* stops early), and (c) markup embedded in
# <script>/<style> text (regex extracts it; a DOM does not). The
# reference ships a real DOM parser (vendored Dapper parser,
# util/HTMLDomUtils.java), so corpus builders get DOM behavior. This
# tier restores it behind the SAME (url, link_type, anchor) contract.
#
# The walk runs on the stdlib html.parser tokenizer (always present;
# tolerant of any markup, handles CDATA script content, attribute
# quoting, and implicit tag closure), so the tier's output is the
# same on every host.

from html.parser import HTMLParser as _HTMLParser


class _LinkDOM(_HTMLParser):
    """Streaming DOM-semantics link collector over the stdlib
    tokenizer: anchors span start/end tag pairs (implicitly closed by
    a following <a>, per browser behavior), script/style text is
    CDATA (never parsed for tags, never anchor text), attribute
    values may contain '>'."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str, str]] = []
        self._anchor: tuple[str, list] | None = None
        self._cdata_depth = 0

    def _flush_anchor(self):
        if self._anchor is not None:
            href, parts = self._anchor
            self.links.append((href, "a", "".join(parts).strip()))
            self._anchor = None

    def handle_starttag(self, tag, attrs):
        a = {k: (v if v is not None else "") for k, v in attrs}
        if tag in ("script", "style"):
            self._cdata_depth += 1
        elif tag == "a":
            self._flush_anchor()  # implicit close of a dangling <a>
            if "href" in a and a["href"]:
                self._anchor = (a["href"], [])
        elif tag in ("frame", "iframe"):
            if a.get("src"):
                self.links.append((a["src"], tag, ""))
        elif tag == "meta":
            if a.get("http-equiv", "").lower() == "refresh":
                m = re.search(r"url\s*=\s*([^;\s]+)",
                              a.get("content", ""), re.IGNORECASE)
                if m:
                    self.links.append((m.group(1), "meta_refresh", ""))

    def handle_startendtag(self, tag, attrs):
        if tag in ("frame", "iframe", "meta"):
            self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in ("script", "style"):
            self._cdata_depth = max(0, self._cdata_depth - 1)
        elif tag == "a":
            self._flush_anchor()

    def handle_data(self, data):
        if self._cdata_depth == 0 and self._anchor is not None:
            self._anchor[1].append(data)

    def close(self):
        super().close()
        self._flush_anchor()  # unclosed <a> at EOF still emits


def extract_links_dom(html: str | None) -> list[tuple[str, str, str]]:
    """DOM-semantics twin of extract_links: same contract
    (url, link_type, anchor), walked by _LinkDOM."""
    if not html:
        return []
    p = _LinkDOM()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # tolerate pathological markup; keep what parsed
    return p.links


@lru_cache(maxsize=None)
def _links_dom_udf():
    @pandas_udf(LINKS_TYPE)
    def _udf(html: pd.Series) -> pd.Series:
        return html.map(extract_links_dom)

    return _udf


def extract_links_dom_udf(col: Column) -> Column:
    return _links_dom_udf()(col)


def extract_links_tiered_udf(col: Column) -> Column:
    """Tier-selected link extraction: SPARK_GRAFT_HTML_TIER=dom picks
    the DOM tier, anything else (or unset) the regex scanner. The
    env var is read at PLAN BUILD time on the driver, so one pipeline
    never mixes tiers between stages."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_HTML_TIER", "regex") == "dom":
        return extract_links_dom_udf(col)
    return extract_links_udf(col)
