"""Pure-Python page extraction with reference parity.

Mirrors traverseAndExtractPageContent (reference extractor.go:27-83) and the
fetchContent gates (fetcher.go:142-178). Every handler cites the Go code it
reproduces. This module is deliberately Spark-free so byte-identity goldens
run as plain unit tests; ``spark_extract.py`` wraps it in mapInPandas.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from webcrawler_spark.config import FILTER_TERMS, SOCIAL_DOMAINS
from webcrawler_spark.extract import urlutil
from webcrawler_spark.extract.html_parser import (
    COMMENT,
    DOCUMENT,
    ELEMENT,
    TEXT,
    Node,
    iter_preorder,
    parse_html,
)
from webcrawler_spark.functions.textnorm import go_trim_space, normalize_text

# RFC3339 as accepted by Go time.Parse(time.RFC3339): strict 'T', seconds
# required, optional fraction, 'Z' or +-hh:mm offset. Go validates field
# ranges; datetime() does the same below.
_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?"
    r"(Z|[+-]\d{2}:\d{2})$"
)

# fetcher.go:29
MAX_BODY_BYTES = 2 * 1024 * 1024

_SKIP_TEXT_PARENTS = frozenset({"script", "style", "noscript", "template"})
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


@dataclass
class PageData:
    """The reference's one row type (types/pageData.go:6-28), minus its
    MetaKeywords field, which the reference never sets."""

    url: str = ""
    canonical_url: str = ""
    title: str = ""
    charset: str = ""
    meta_description: str = ""
    language: str = ""
    headings: dict[str, list[str]] = field(default_factory=dict)
    alt_texts: list[str] = field(default_factory=list)
    anchor_texts: list[str] = field(default_factory=list)
    internal_links: list[str] = field(default_factory=list)
    external_links: list[str] = field(default_factory=list)
    structured_data: list[str] = field(default_factory=list)
    open_graph: dict[str, str] = field(default_factory=dict)
    date_published: datetime | None = None
    date_modified: datetime | None = None
    social_links: list[str] = field(default_factory=list)
    visible_text: str = ""
    is_secure: bool = False
    fetch_error: str = ""


def parse_rfc3339(value: str) -> datetime | None:
    """Go time.Parse(time.RFC3339): None on any deviation (extractor.go:232-252
    'ignore on error')."""
    m = _RFC3339.match(value)
    if not m:
        return None
    y, mo, d, h, mi, s, frac, off = m.groups()
    try:
        micro = 0
        if frac:
            micro = int(round(float(frac) * 1_000_000))
            if micro > 999_999:
                micro = 999_999
        dt = datetime(int(y), int(mo), int(d), int(h), int(mi), int(s), micro)
    except ValueError:
        return None
    if off == "Z":
        return dt.replace(tzinfo=timezone.utc)
    sign = 1 if off[0] == "+" else -1
    oh, om = int(off[1:3]), int(off[4:6])
    if oh > 23 or om > 59:
        return None
    from datetime import timedelta

    return dt.replace(
        tzinfo=timezone(sign * timedelta(hours=oh, minutes=om))
    ).astimezone(timezone.utc)


def _get_attribute(node: Node, name: str) -> str:
    """getAttribute (extractor.go:114-122): first case-insensitive match."""
    name = name.lower()
    for k, v in node.attrs:
        if k.lower() == name:
            return v
    return ""


def extract_node_text(node: Node) -> str:
    """extractNodeText (extractor.go:308-327): pre-order subtree text,
    TrimSpace'd with the Go whitespace class."""
    parts: list[str] = []
    for cur in iter_preorder(node):
        if cur.type == TEXT:
            parts.append(cur.data)
    return go_trim_space("".join(parts))


def check_title_filter(title: str) -> str | None:
    """checkTitleFilter (extractor.go:330-342): returns the matched term."""
    lower = title.lower()
    for term in FILTER_TERMS:
        if term in lower:
            return term
    return None


def find_html_node(node: Node) -> Node | None:
    """findHTMLNode (extractor.go:101-111): recursive first-child-first DFS."""
    if node.type == ELEMENT and node.data == "html":
        return node
    for child in node.children:
        found = find_html_node(child)
        if found is not None:
            return found
    return None


def is_english_content(doc: Node) -> bool:
    """isEnglishContent (extractor.go:86-98)."""
    html_node = find_html_node(doc)
    if html_node is None:
        return True
    for k, v in html_node.attrs:
        if k.lower() == "lang":
            lang = v.split("-", 1)[0].lower()
            return lang == "en"
    return True


def find_base_tag(doc: Node) -> str | None:
    """findBaseTag (extractor.go:413-446) — faithful to the stack algorithm,
    including the quirk that a <head>'s children are pushed in document order
    (so popped in REVERSE order: the last base inside head is found first)."""
    stack: list[Node] = [doc]
    while stack:
        current = stack.pop()
        if current.type == ELEMENT and current.data == "base":
            for k, v in current.attrs:
                if k.lower() == "href":
                    if urlutil.parse_ok(v):
                        return v
            return None  # first base element encountered wins per spec
        if current.type == ELEMENT and current.data == "head":
            stack.extend(current.children)  # document order push => reverse pop
            continue
        stack.extend(reversed(current.children))
    return None


def _handle_meta(node: Node, pd: PageData) -> None:
    """parseMetaTags (extractor.go:191-229): later duplicate attributes
    overwrite; the switch cases are mutually exclusive, first match wins."""
    name = content = charset = prop = http_equiv = ""
    for k, v in node.attrs:
        lk = k.lower()
        if lk == "name":
            name = v
        elif lk == "content":
            content = v
        elif lk == "charset":
            charset = v
        elif lk == "property":
            prop = v
        elif lk == "http-equiv":
            http_equiv = v.lower()

    if charset != "":
        pd.charset = charset
    elif http_equiv == "content-type":
        parts = content.split("charset=", 1)
        if len(parts) > 1:
            pd.charset = go_trim_space(parts[1])
    elif prop.startswith("og:"):
        pd.open_graph[prop] = content
    elif name == "description":
        pd.meta_description = content

    # parseTimestamps (extractor.go:232-252)
    if content:
        if prop in ("article:published_time", "datepublished"):
            ts = parse_rfc3339(content)
            if ts is not None:
                pd.date_published = ts
        elif prop in ("article:modified_time", "datemodified"):
            ts = parse_rfc3339(content)
            if ts is not None:
                pd.date_modified = ts


def _handle_anchor(node: Node, pd: PageData, base: str, base_host: str) -> None:
    """processAnchor (extractor.go:255-283)."""
    href = _get_attribute(node, "href")
    if href == "":
        return
    if not urlutil.parse_ok(href):
        return
    resolved = urlutil.resolve(base, href)
    sch = urlutil.scheme(resolved)
    if sch not in ("http", "https"):  # isValidScheme extractor.go:286-288
        return
    anchor_text = extract_node_text(node)
    if anchor_text != "":
        pd.anchor_texts.append(anchor_text)
    if urlutil.host(resolved) == base_host:
        pd.internal_links.append(resolved)
    else:
        pd.external_links.append(resolved)


def _handle_link(node: Node, pd: PageData, base: str) -> None:
    """parseLink (extractor.go:365-383): last href/rel attribute wins (loop
    assigns), rel must CONTAIN 'canonical'."""
    href = rel = ""
    for k, v in node.attrs:
        lk = k.lower()
        if lk == "href":
            href = v
        elif lk == "rel":
            rel = v.lower()
    if href == "" or "canonical" not in rel:
        return
    if urlutil.parse_ok(href):
        pd.canonical_url = urlutil.resolve(base, href)


def _handle_script(node: Node, pd: PageData) -> None:
    """parseScript (extractor.go:386-410): JSON-LD — direct text children of
    <script type='application/ld+json'>, concatenated."""
    script_type = ""
    for k, v in node.attrs:
        if k.lower() == "type":
            script_type = v.lower()
            break
    if script_type != "application/ld+json":
        return
    content = "".join(c.data for c in node.children if c.type == TEXT)
    if content:
        pd.structured_data.append(content)


def filter_social_links(links: list[str]) -> list[str]:
    """filterSocialLinks (extractor.go:291-303): Hostname() exact membership
    in the 5-domain allowlist (no www-stripping, no lowercasing)."""
    social = []
    for link in links:
        if not urlutil.parse_ok(link):
            continue
        if urlutil.hostname(link) in SOCIAL_DOMAINS:
            social.append(link)
    return social


def extract_page(content: str, base_url: str) -> PageData:
    """traverseAndExtractPageContent (extractor.go:27-83).

    Errors are reported via PageData.fetch_error (never raised): the engine
    turns per-page failures into filterable error rows (SURVEY.md section 3.3)
    so one bad page cannot fail a job.
    """
    pd = PageData()
    if not urlutil.parse_ok(base_url):
        pd.fetch_error = "invalid base URL"
        return pd

    try:
        doc = parse_html(content)
    except Exception as exc:  # html.parser can raise on pathological input
        pd.fetch_error = f"parse error: {exc}"
        return pd

    base = base_url
    new_base = find_base_tag(doc)  # extractor.go:40-44: <base> rebases first
    if new_base is not None:
        base = urlutil.resolve(base, new_base)

    pd.is_secure = urlutil.scheme(base) == "https"  # extractor.go:46

    if not is_english_content(doc):  # extractor.go:48-50
        pd.fetch_error = "non-English content"
        return pd

    base_host = urlutil.host(base)
    text_parts: list[str] = []
    saw_html_element = False

    for node in iter_preorder(doc):  # extractor.go:58-75
        if node.type == TEXT:
            # handleTextNode (extractor.go:125-138): immediate parent only
            parent = node.parent
            if parent is None or parent.data in _SKIP_TEXT_PARENTS:
                continue
            text_parts.append(node.data)
            text_parts.append(" ")
        elif node.type == ELEMENT:
            tag = node.data
            if tag == "html":
                # handleHtmlTag (extractor.go:167-176)
                saw_html_element = True
                lang = None
                for k, v in node.attrs:
                    if k.lower() == "lang":
                        lang = go_trim_space(v)
                        break
                pd.language = lang if lang is not None else "unspecified"
            elif tag == "title":
                # handleTitle (extractor.go:179-188): error aborts the page
                pd.title = extract_node_text(node)
                if pd.title:
                    term = check_title_filter(pd.title)
                    if term is not None:
                        pd.fetch_error = (
                            f"title contains filtered term: {term!r}"
                        )
                        return pd
            elif tag == "meta":
                _handle_meta(node, pd)
            elif tag == "a":
                _handle_anchor(node, pd, base, base_host)
            elif tag == "img":
                # parseImage (extractor.go:345-351): every non-empty alt attr
                for k, v in node.attrs:
                    if k.lower() == "alt" and v != "":
                        pd.alt_texts.append(v)
            elif tag in _HEADINGS:
                # storeHeading (extractor.go:354-362)
                pd.headings.setdefault(tag, []).append(extract_node_text(node))
            elif tag == "link":
                _handle_link(node, pd, base)
            elif tag == "script":
                _handle_script(node, pd)

    if not saw_html_element:
        # x/net/html always synthesizes an <html> element (no attrs), so
        # handleHtmlTag always fires => Language defaults to "unspecified".
        pd.language = "unspecified"

    pd.visible_text = normalize_text("".join(text_parts))
    pd.social_links = filter_social_links(pd.external_links)
    return pd


def gate_and_extract(html_bytes: bytes, url: str) -> PageData:
    """fetchContent gates (fetcher.go:159-175) + BuildFullUrl + extraction:
    truncate to 2 MiB, require valid UTF-8 (drop, don't repair)."""
    try:
        full_url = urlutil.build_full_url(url)
    except urlutil.URLError:
        pd = PageData()
        pd.url = url
        pd.fetch_error = "failed to build full URL"
        return pd

    body = html_bytes[:MAX_BODY_BYTES]  # io.LimitReader
    try:
        content = body.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        pd = PageData()
        pd.url = full_url
        pd.fetch_error = "invalid UTF-8 content"
        return pd

    pd = extract_page(content, full_url)
    pd.url = full_url
    return pd
