"""Pure-Python HTML extraction kernel — the frozen per-row semantics.

This module is the single source of truth for the reference's per-page
behavior. It is called from BOTH the Spark Arrow UDFs
(:mod:`..operators.extract`) and the single-threaded oracle
(:mod:`..oracle.crawl_oracle`), which is what guarantees the
byte-identical-extracted-text-per-url invariant: the distributed engine and
the golden-trace generator share one implementation, and this module's own
tests pin its outputs against hand-derived expectations that mirror the Go
reference line by line.

Normative sources in the reference (/root/reference, read-only):

* link extraction walk     — ``internal/crawler/crawler.go:97-131`` (VisitNode)
* boilerplate gate (crawl) — ``internal/crawler/crawler.go:135-147``
* metadata/text extraction — ``internal/crawler/metadata.go:40-220`` (ExtractMetadata)
* substring-dedup builder  — ``internal/crawler/metadata.go:24-36`` (AddToStringbuilder)
* path helpers             — Go stdlib ``path.Ext`` / ``path.Base`` semantics
  as used at ``crawler.go:113`` and ``crawler.go:208-211``

No code is copied from the reference; these are re-derived semantics
(SURVEY.md §8 is the written contract).
"""

from __future__ import annotations

import json
import re
from html import unescape as _html_unescape
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

from ..constants import (
    GEO_FILE_EXTENSIONS,
    UNWANTED_CLASS_OR_ID,
    UNWANTED_META,
    VISIBLE_TEXT_PARENTS,
)

# ---------------------------------------------------------------------------
# Go path helpers (path.Ext / path.Base), exact semantics
# ---------------------------------------------------------------------------


def go_path_ext(path: str) -> str:
    """Go ``path.Ext``: suffix from the final dot in the final slash-separated
    element; empty when there is no dot. (``crawler.go:113``)"""
    for i in range(len(path) - 1, -1, -1):
        c = path[i]
        if c == "/":
            return ""
        if c == ".":
            return path[i:]
    return ""


def go_path_base(path: str) -> str:
    """Go ``path.Base``: last element after trimming trailing slashes;
    "." for empty, "/" for all-slashes. (``crawler.go:208``)"""
    if path == "":
        return "."
    path = path.rstrip("/")
    if path == "":
        return "/"
    i = path.rfind("/")
    if i >= 0:
        path = path[i + 1 :]
    if path == "":
        return "/"
    return path


def filename_for_download(raw_url: str) -> str:
    """Filename derivation for the download sink (``crawler.go:208-211``):
    basename of the URL path with ``"download"`` fallback."""
    try:
        p = urlsplit(raw_url).path
    except ValueError:
        return "download"
    name = go_path_base(p)
    if name in ("", ".", "/"):
        return "download"
    return name


# ---------------------------------------------------------------------------
# Minimal DOM (stack-built from html.parser events)
# ---------------------------------------------------------------------------

ELEMENT, TEXT, DOCUMENT = 1, 3, 9

# HTML void elements never take children.
_VOID = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)


class Node:
    __slots__ = ("type", "tag", "attrs", "children", "parent", "text")

    def __init__(self, type_: int, tag: str = "", attrs=None, text: str = ""):
        self.type = type_
        self.tag = tag
        self.attrs = attrs or []  # list[(key, value)] in document order
        self.children: list[Node] = []
        self.parent: Node | None = None
        self.text = text

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    def attr_items(self):
        return self.attrs


class _TreeBuilder(HTMLParser):
    """Builds a document tree. Well-formed input is assumed (the synthetic
    corpus is generated well-formed); recovery is minimal: unmatched end tags
    are ignored, end tags pop to the nearest matching open tag."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.document = Node(DOCUMENT)
        self._stack: list[Node] = [self.document]

    def handle_starttag(self, tag, attrs):
        node = Node(ELEMENT, tag, [(k, v if v is not None else "") for k, v in attrs])
        self._stack[-1].append(node)
        if tag not in _VOID:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node(ELEMENT, tag, [(k, v if v is not None else "") for k, v in attrs])
        self._stack[-1].append(node)

    def handle_endtag(self, tag):
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return
        # unmatched end tag: ignore

    def handle_data(self, data):
        if data:
            self._stack[-1].append(Node(TEXT, text=data))


def parse_html(html: str | bytes) -> Node:
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.document


# ---------------------------------------------------------------------------
# Boilerplate gates
# ---------------------------------------------------------------------------


def has_unwanted_class_or_id(node: Node) -> bool:
    """Crawl-side gate (``crawler.go:135-147``): class/id attribute value,
    lowercased, contains any blacklisted substring."""
    for key, val in node.attrs:
        if key in ("class", "id"):
            low = val.lower()
            for sub in UNWANTED_CLASS_OR_ID:
                if sub in low:
                    return True
    return False


def _should_skip_meta(node: Node) -> bool:
    """Metadata-side gate (``metadata.go:47-68``): element tag equals a
    blacklisted name, OR class/id/role attribute value contains one."""
    if node.type != ELEMENT:
        return False
    if node.tag in UNWANTED_META:
        return True
    for key, val in node.attrs:
        if key in ("class", "id", "role"):
            low = val.lower()
            for sub in UNWANTED_META:
                if sub in low:
                    return True
    return False


# ---------------------------------------------------------------------------
# One-pass extraction: links (VisitNode semantics, crawler.go:97-131) and
# metadata (ExtractMetadata, metadata.go:40-220) from one tokenizer loop
# ---------------------------------------------------------------------------


def _attrs_unwanted(attrs) -> bool:
    """Gate on raw (key, value) pairs — same rule as
    :func:`has_unwanted_class_or_id` without needing a Node."""
    for key, val in attrs:
        if key in ("class", "id") and val:
            low = val.lower()
            for sub in UNWANTED_CLASS_OR_ID:
                if sub in low:
                    return True
    return False


# One-pass tag tokenizer shared by links and metadata. Comments / CDATA /
# doctype / processing instructions are consumed without producing a tag
# (a comment closes at html.parser's ``--\s*>``); start and end tags
# capture (end-slash, name, attr soup, self-close slash). Quoted '>' inside
# attribute values is protected by the quote alternatives; the attr soup
# is lazy so the trailing "/" of a self-closing tag lands in the
# self-close group. The empty last alternative matches a "<" that opens
# none of these, so every "<" of the page is one match.
_TAG_RE = re.compile(
    r"<(?:"
    r"!--.*?(?:--\s*>|\Z)"
    r"|!\[CDATA\[.*?(?:\]\]>|\Z)"
    r"|![^>]*>?"
    r"|\?[^>]*>?"
    r"|(/?)([a-zA-Z][^\s/>]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)\s*(/?)>"
    r"|)",
    re.S,
)
_ATTR_RE = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?"
)
# script/style bodies are one CDATA chunk that ends only at a complete
# end tag — html.parser's ``</\s*script\s*>`` (re.I); "</scriptx>" is data
_CDATA_END = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
_META_GATE_TAGS = frozenset(UNWANTED_META)
_META_ATTR_TAGS = frozenset({"meta", "link", "script"})

# A trailing "/" before ">" is a self-close ONLY when it is not the
# continuation of an unquoted attribute value: html.parser's
# attrfind_tolerant consumes "href=/about/" entirely into the value
# ([^>\s]* includes "/"), and a pending "= " takes even a space-separated
# "/" as its value — while a bare attribute NAME never swallows the slash
# (names exclude "/"), so <a disabled/> stays self-closing. The fast path
# must mirror this or it diverges from the frozen tree twin on unquoted
# attrs (ADVICE r1: <a href=x.zip/> flipped is_geo, <div class=nav-menu/>
# failed to suppress). Pinned by the adversarial parity tests.
_UNQ_PENDING_RE = re.compile(r"=\s*$")
_UNQ_VALUE_RE = re.compile(r"=\s*[^\s\"'=]*$")


def _parse_attrs(src: str) -> list[tuple[str, str]]:
    """(name, value) pairs in document order, names lowercased, quotes
    stripped, entity references unescaped — the same view HTMLParser hands
    to handle_starttag (valueless attrs → "")."""
    attrs = []
    for m in _ATTR_RE.finditer(src):
        val = m.group(2)
        if val is None:
            val = ""
        elif val[:1] in ('"', "'"):
            val = val[1:-1]
        if "&" in val:
            val = _html_unescape(val)
        attrs.append((m.group(1).lower(), val))
    return attrs


def _meta_attrs_unwanted(attrs) -> bool:
    """The attribute half of :func:`_should_skip_meta` on raw pairs."""
    for key, val in attrs:
        if key in ("class", "id", "role") and val:
            low = val.lower()
            for sub in UNWANTED_META:
                if sub in low:
                    return True
    return False


def _unterminated(markup: str) -> bool:
    """A comment / declaration / PI that ran into the end of the page —
    html.parser turns it into text, the tokenizer does not."""
    if markup.startswith("<!--"):
        return _COMMENT_CLOSE_RE.search(markup, 4) is None
    return not markup.endswith(">")


def _link_of(val: str, base_url: str) -> tuple[str, bool] | None:
    """One ``<a href>`` value → (resolved url, is_geo), or None for
    ``mailto:``/``tel:`` and unresolvable hrefs."""
    if val.startswith("mailto:") or val.startswith("tel:"):
        return None
    try:
        link = urljoin(base_url, val)
        path = urlsplit(link).path
    except ValueError:
        return None
    return link, go_path_ext(path).lower() in GEO_FILE_EXTENSIONS


def extract_page(html: str | bytes, base_url: str, *, links: bool = True,
                 text: bool = True) -> tuple[list[dict] | None, tuple | None]:
    """Links and raw metadata of one page from ONE tokenizer pass.

    Returns ``(links, meta)``: ``links`` is what :func:`extract_links`
    returns (``None`` when ``links=False``), ``meta`` is
    :func:`extract_metadata_raw`'s ``(title_buf, desc_buf, keywords,
    xml_links)`` (``None`` when ``text=False``).

    The element stack mirrors :class:`_TreeBuilder`'s algebra exactly (void
    elements and ``<x/>`` never push; end tags pop to the nearest matching
    open frame, unmatched ones are ignored) and carries two suppression
    frames: the crawl gate (``UNWANTED_CLASS_OR_ID`` on class/id) and the
    metadata gate (``UNWANTED_META`` on the tag name or class/id/role).
    Tags are dead for a mode until its frame pops; a mode that is off is
    suppressed at frame 0, the document, which never pops. Because the
    tree walk is pre-order and the tree is built in event order, document
    order IS walk order, so the metadata accumulates as tags stream by:

    * ``<title>`` takes its first child — the text, or an element's tag
      name (Go's ``FirstChild.Data``);
    * text counts only when its direct parent is in
      ``VISIBLE_TEXT_PARENTS``, one chunk per run between tags,
      entity-unescaped per chunk (html.parser's ``convert_charrefs``);
    * script/style bodies are one raw CDATA chunk; an ld+json script's
      body is parsed as JSON, every other script is skipped.

    Three constructs are not modelled, and a page with one of them takes
    the tree twins instead: a ``<`` that opens no tag (html.parser splits
    text there, and reads ``</`` + non-letter as a bogus comment up to the
    next ``>``), a comment or declaration cut off by the end of the page
    (html.parser turns it into text up to its first ``>`` and parses on),
    and an end tag with a quoted ``>`` in its attribute soup (html.parser
    ends it at the first ``>``). Each is seen at its own match, O(1) per
    tag. ``<![`` sections follow rules of their own too, but html.parser
    raises on most of their keywords, so only such a page's metadata comes
    from the tree walk; its links still come from this pass.

    Output equality with the tree twins (:func:`extract_links_tree`,
    :func:`extract_metadata_raw`) is pinned by tests over the corpus, an
    adversarial list and a differential fuzz test. One pass instead of a
    tokenizer pass plus an html.parser tree build and walk is what keeps
    the round's Arrow extraction stage from being parse-bound."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    out: list[dict] | None = [] if links else None
    stack: list[str] = ["\x00"]
    link_off: int | None = None if links else 0
    meta_off: int | None = None if text else 0
    tree = False  # an unmodelled construct: the page takes the tree twins
    tree_meta = False  # a "<![" section: the tree walk does text
    title_buf = desc_buf = ""
    keywords: list[str] = []
    xml_links: list[str] = []
    title_open = False  # an active <title> still waits for its first child
    pos = 0
    n = len(html)
    # hot loop: one group(1,2,3,4) call per tag and the search method bound
    # once — the loop is otherwise at CPython's per-iteration floor
    tag_search = _TAG_RE.search
    while pos < n:
        m = tag_search(html, pos)
        start = n if m is None else m.start()
        if start > pos and meta_off is None and (  # one text chunk
            title_open or stack[-1] in VISIBLE_TEXT_PARENTS
        ):
            chunk = html[pos:start]
            if "&" in chunk:
                chunk = _html_unescape(chunk)
            if chunk:  # charrefs may unescape to nothing: no node
                if title_open:
                    title_buf = add_to_stringbuilder(title_buf, chunk)
                    title_open = False
                else:
                    desc_buf = add_to_stringbuilder(desc_buf, chunk)
        if m is None:
            break
        pos = m.end()
        is_end, name, attr_src, self_close_mark = m.group(1, 2, 3, 4)
        if name is None:  # comment / doctype / CDATA / PI, or a stray "<"
            if html.startswith("<![", start):
                if text:
                    tree_meta, meta_off = True, 0
                    if out is None:
                        break
            elif pos == start + 1 or (pos == n and _unterminated(m.group())):
                tree = True
                break
            continue
        tag = name.lower()
        if is_end:  # end tag
            if attr_src and ">" in attr_src:
                tree = True
                break
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] == tag:
                    del stack[i:]
                    if link_off is not None and link_off >= i:
                        link_off = None
                    if meta_off is not None and meta_off >= i:
                        meta_off = None
                    title_open = False
                    break
            continue
        self_closing = bool(self_close_mark)
        if self_closing and attr_src:
            # HTMLParser parity (see _UNQ_*_RE): the "/" extends an unquoted
            # attribute value unless whitespace closed the value first — but
            # a pending "=" claims the slash as its value even after spaces.
            if _UNQ_PENDING_RE.search(attr_src) or (
                m.start(4) == m.end(3) and _UNQ_VALUE_RE.search(attr_src)
            ):
                attr_src += "/"
                self_closing = False
        link_gated = meta_gated = ld_json = False
        if link_off is None or meta_off is None:  # a live region
            link_on = link_off is None
            meta_on = meta_off is None
            attrs = None
            if attr_src:
                low = attr_src.lower()
                if (
                    "class" in low
                    or "id" in low
                    or (link_on and tag == "a")
                    or (meta_on and (tag in _META_ATTR_TAGS or "role" in low))
                ):
                    attrs = _parse_attrs(attr_src)
            link_gated = link_on and attrs is not None and _attrs_unwanted(attrs)
            if link_on and not link_gated and tag == "a" and attrs:
                for key, val in attrs:
                    if key == "href":
                        hit = _link_of(val, base_url)
                        if hit is not None:
                            out.append(
                                {"url": hit[0], "is_geo": hit[1], "pos": len(out)}
                            )
            if meta_on:
                if title_open:  # this element is the title's first child
                    title_buf = add_to_stringbuilder(title_buf, tag)
                    title_open = False
                meta_gated = tag in _META_GATE_TAGS or (
                    attrs is not None and _meta_attrs_unwanted(attrs)
                )
                if not meta_gated and attrs:
                    if tag == "meta":
                        title_buf, desc_buf, keywords = _fold_meta(
                            attrs, title_buf, desc_buf, keywords
                        )
                    elif tag == "link":
                        href = _xml_href(attrs)
                        if href is not None:
                            xml_links.append(href)
                    elif tag == "script":
                        ld_json = "ld+json" in _script_type(attrs)
        if self_closing or tag in _VOID:
            continue
        stack.append(tag)
        if link_gated:
            link_off = len(stack) - 1
        if meta_gated:
            meta_off = len(stack) - 1
        elif meta_off is None and tag == "title":
            title_open = True
        if tag in _CDATA_END:  # script/style bodies are data
            mm = _CDATA_END[tag].search(html, pos)
            if mm is None:
                break  # unterminated: html.parser never emits the body
            if ld_json and mm.start() > pos:
                title_buf, desc_buf, keywords = _fold_ld_json(
                    html[pos : mm.start()], title_buf, desc_buf, keywords
                )
            pos = mm.end()
            del stack[-1]
            if link_off == len(stack):
                link_off = None
            if meta_off == len(stack):
                meta_off = None
    if tree:
        return (
            extract_links_tree(html, base_url) if links else None,
            extract_metadata_raw(html, base_url) if text else None,
        )
    if not text:
        return out, None
    if tree_meta:
        return out, extract_metadata_raw(html, base_url)
    return out, (title_buf, desc_buf, keywords, xml_links)


def extract_links(html: str | bytes, base_url: str) -> list[dict]:
    """Emits links in document order — the hot-path scanner
    (:func:`extract_page`'s links-only mode).

    Each emitted dict: ``{"url": resolved, "is_geo": bool, "pos": int}``.
    Semantics (SURVEY.md §8.1):

    * only ``<a href>`` anchors; ``mailto:``/``tel:`` skipped;
      unresolvable hrefs skipped;
    * ``is_geo`` = lowercased Go-path-ext of the resolved URL's path is in
      the 11-entry geo extension allow-list;
    * descent only into element children that pass the crawl-side
      boilerplate gate (an ``<a>`` inside — or itself carrying — an unwanted
      class/id is never emitted);
    * depth gating (``parent.Depth+1 < 4``) is applied engine-side, not here.

    Output equality with the tree walk (:func:`extract_links_tree`) is
    pinned by tests over the full corpus and an adversarial-input list."""
    return extract_page(html, base_url, links=True, text=False)[0]


def extract_links_tree(html: str | bytes, base_url: str) -> list[dict]:
    """Reference implementation: build the tree, then the pre-order walk —
    the literal transcription of ``crawler.go:97-131``. Kept as the
    cross-check twin for the streaming fast path (they must agree on every
    input; the hot path uses :func:`extract_links`)."""
    root = parse_html(html)
    out: list[dict] = []

    def visit(n: Node) -> None:
        if n.type == ELEMENT and n.tag == "a":
            for key, val in n.attrs:
                if key != "href":
                    continue
                if val.startswith("mailto:") or val.startswith("tel:"):
                    continue
                try:
                    link = urljoin(base_url, val)
                    path = urlsplit(link).path
                except ValueError:
                    continue
                ext = go_path_ext(path).lower()
                out.append(
                    {"url": link, "is_geo": ext in GEO_FILE_EXTENSIONS, "pos": len(out)}
                )
        for c in n.children:
            if c.type == ELEMENT and not has_unwanted_class_or_id(c):
                visit(c)

    visit(root)
    return out


# ---------------------------------------------------------------------------
# Metadata / text extraction (ExtractMetadata semantics, metadata.go:40-220)
# ---------------------------------------------------------------------------


def add_to_stringbuilder(buf: str, new: str) -> str:
    """``metadata.go:24-36``: trim; drop empties; drop fragments already
    present as a *substring* of the accumulated buffer (order-dependent,
    asymmetric); single-space separator."""
    new = new.strip()
    if not new:
        return buf
    if new in buf:
        return buf
    if buf:
        return buf + " " + new
    return new


def _ws_normalize(s: str) -> str:
    """``strings.Join(strings.Fields(s), " ")`` + TrimSpace (metadata.go:215-216)."""
    return " ".join(s.split())


def _fold_meta(attrs, title_buf: str, desc_buf: str, keywords: list):
    """One ``<meta>`` element: ``name`` (else
    ``property``) picks the buffer its ``content`` folds into."""
    name = prop = content = ""
    for key, val in attrs:
        if key == "name":
            name = val.lower()
        elif key == "property":
            prop = val.lower()
        elif key == "content":
            content = val.strip()
    key = name or prop
    if key in ("description", "og:description"):
        desc_buf = add_to_stringbuilder(desc_buf, content)
    elif key == "keywords":
        if not keywords and content != "":
            keywords = [p.strip() for p in content.split(",")]
    elif key in ("og:title", "headline"):
        title_buf = add_to_stringbuilder(title_buf, content)
    return title_buf, desc_buf, keywords


def _script_type(attrs) -> str:
    """The first ``type`` attribute, lowercased."""
    for key, val in attrs:
        if key == "type":
            return val.lower()
    return ""


def _fold_ld_json(payload: str, title_buf: str, desc_buf: str, keywords: list):
    """One ld+json script body: a JSON object's
    string ``description``/``name``/``headline``/``keywords`` fold in."""
    try:
        data = json.loads(payload)
    except (ValueError, TypeError):
        data = None
    if isinstance(data, dict):
        d = data.get("description")
        if isinstance(d, str):
            desc_buf = add_to_stringbuilder(desc_buf, d)
        t = data.get("name")
        if isinstance(t, str):
            title_buf = add_to_stringbuilder(title_buf, t)
        h = data.get("headline")
        if isinstance(h, str):
            title_buf = add_to_stringbuilder(title_buf, h)
        kw = data.get("keywords")
        if isinstance(kw, str) and not keywords:
            keywords = [p.strip() for p in kw.split(",")]
    return title_buf, desc_buf, keywords


def _xml_href(attrs) -> str | None:
    """A ``<link>``'s href when its (last) ``type`` mentions xml."""
    href = typ = ""
    for key, val in attrs:
        if key == "href":
            href = val
        elif key == "type":
            typ = val.lower()
    return href if "xml" in typ else None


def extract_metadata_raw(html: str | bytes, page_url: str) -> tuple:
    """The metadata tree walk, returning the PRE-normalization state
    ``(title_buf, desc_buf, keywords, xml_links)`` — the exact accumulator
    values the reference holds at ``metadata.go:179`` (just before the
    secondary XML harvest). :func:`finish_metadata` normalizes these, after
    the feeds fold when there is one, because the reference's fold operates
    on the raw builders.

    This is the frozen twin of :func:`extract_page`'s text mode (the way
    :func:`extract_links_tree` is the twin of its links mode): the oracle
    and the tests use it, the engine uses the one-pass tokenizer."""
    root = parse_html(html)
    title_buf = ""
    desc_buf = ""
    keywords: list[str] = []
    xml_links: list[str] = []

    def walk(n: Node) -> None:
        nonlocal title_buf, desc_buf, keywords
        if _should_skip_meta(n):
            return

        if n.type == ELEMENT:
            tag = n.tag
            if tag == "title":
                if n.children:
                    first = n.children[0]
                    # Go reads FirstChild.Data: text payload for text nodes,
                    # tag name for element nodes.
                    title_buf = add_to_stringbuilder(
                        title_buf, first.text if first.type == TEXT else first.tag
                    )
            elif tag == "meta":
                title_buf, desc_buf, keywords = _fold_meta(
                    n.attrs, title_buf, desc_buf, keywords
                )
            elif tag == "script":
                if "ld+json" not in _script_type(n.attrs):
                    return  # skip subtree (metadata.go:128)
                if not n.children:
                    return
                payload = n.children[0].text if n.children[0].type == TEXT else ""
                title_buf, desc_buf, keywords = _fold_ld_json(
                    payload, title_buf, desc_buf, keywords
                )
            elif tag == "link":
                href = _xml_href(n.attrs)
                if href is not None:
                    xml_links.append(href)
        elif n.type == TEXT:
            parent_tag = n.parent.tag if n.parent is not None else ""
            if parent_tag in VISIBLE_TEXT_PARENTS:
                desc_buf = add_to_stringbuilder(desc_buf, n.text)

        for c in n.children:
            walk(c)

    walk(root)
    return title_buf, desc_buf, keywords, xml_links


def finish_metadata(raw: tuple, page_url: str, feed_fetch=None) -> dict:
    """Raw metadata ``(title_buf, desc_buf, keywords, xml_links)`` →
    ``{"title", "description", "keywords", "xml_links"}``.

    With ``feed_fetch`` the secondary XML harvest (``metadata.go:180-212``)
    runs first, the 5s-timeout HTTP GET replaced by the offline
    ``feed_fetch(resolved_url) -> xml_text | None`` lookup (``None`` =
    fetch error / timeout → link skipped, exactly the reference's
    ``continue``). Quirk frozen: the reference guards the fold with
    ``md.Title == ""`` / ``md.Description == ""`` — but those fields are
    only assigned AFTER the loop (``metadata.go:215-216``), so the guards
    are always true and every successfully-parsed feed's title/description
    goes through ``add_to_stringbuilder`` unconditionally, on the RAW
    buffers, before whitespace normalization."""
    title_buf, desc_buf, keywords, xml_links = raw
    if feed_fetch is not None:
        for href in xml_links:
            try:
                u = urljoin(page_url, href)
            except ValueError:
                continue  # base.Parse error (metadata.go:184-186)
            xml_text = feed_fetch(u)
            if xml_text is None:
                continue  # fetch error / timeout (metadata.go:189-199)
            parsed = parse_xml_meta(xml_text)
            if parsed is None:
                continue  # Unmarshal error (metadata.go:204)
            title_buf = add_to_stringbuilder(title_buf, parsed["title"])
            desc_buf = add_to_stringbuilder(desc_buf, parsed["description"])
    return {
        "title": _ws_normalize(title_buf),
        "description": _ws_normalize(desc_buf),
        "keywords": keywords,
        "xml_links": xml_links,
    }


def extract_metadata(html: str | bytes, page_url: str) -> dict:
    """Single-pass walk accumulating title / description / keywords.

    Faithful quirks preserved (SURVEY.md §8.3):

    * the ``md.Title == ""`` / ``md.Description == ""`` guards in the
      reference compare against fields only assigned *after* the walk, so
      every title source (``<title>`` first child, ``og:title``/``headline``
      meta, JSON-LD ``name``/``headline``) and every description source
      accumulates through the substring-dedup builder;
    * keywords are genuinely first-wins (set during the walk);
    * non-JSON-LD ``<script>`` subtrees are skipped entirely;
    * visible text counts only when the text node's direct parent is one of
      ``p h1 h2 h3 h4 li``;
    * ``<link type~=xml>`` hrefs are collected but NOT fetched here (the
      reference's secondary RSS fetch, metadata.go:180-212, is a network
      side-effect; its offline form is :func:`extract_metadata_with_feeds`).

    Returns ``{"title", "description", "keywords", "xml_links"}`` where
    ``description`` is *the* byte-identical extracted text per url. Built
    on the tree twin (:func:`extract_metadata_raw`) — the oracle's path;
    the engine and the catalog UDFs run :func:`extract_page`.
    """
    return finish_metadata(extract_metadata_raw(html, page_url), page_url)


# ---------------------------------------------------------------------------
# Secondary XML (RSS/Atom) harvest — offline form (metadata.go:180-212)
# ---------------------------------------------------------------------------


def parse_xml_meta(xml_text: str) -> dict | None:
    """Go ``xml.Unmarshal`` into ``struct{Title, Description string}`` with
    flat ``xml:"title"`` / ``xml:"description"`` tags (``metadata.go:200-204``)
    — semantics frozen exactly, including the big quirk:

    * fields bind only to **direct children of the root element** (a flat
      tag has no ``channel>`` path), so a standard RSS feed
      (``<rss><channel><title>…``) binds NOTHING and both fields stay
      ``""``; Atom-style roots with direct ``<title>`` children do bind;
    * element value = the element's direct character data (text before /
      between / after nested children; nested elements' own text excluded)
      — Go's saveData for string fields;
    * repeated matches overwrite (Go assigns each occurrence — last wins);
    * match is by local (namespace-stripped) element name, exact case;
    * malformed XML → ``None`` (``Unmarshal`` error → feed skipped).
    """
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return None
    out = {"title": "", "description": ""}
    for child in root:
        if not isinstance(child.tag, str):
            continue  # comments / PIs
        name = child.tag.rsplit("}", 1)[-1]
        if name in out:
            data = child.text or ""
            for gc in child:
                if gc.tail:
                    data += gc.tail
            out[name] = data
    return out


def extract_metadata_with_feeds(
    html: str | bytes, page_url: str, feed_fetch
) -> dict:
    """Full ``ExtractMetadata`` INCLUDING the secondary XML harvest
    (``metadata.go:180-212``) on the tree twin — see
    :func:`finish_metadata` for the fold and its frozen quirk."""
    return finish_metadata(
        extract_metadata_raw(html, page_url), page_url, feed_fetch
    )
