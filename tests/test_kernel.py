"""Unit tests for the pure-Python extraction kernel.

Expectations are hand-derived from the reference semantics
(SURVEY.md §8; reference crawler.go:97-147, metadata.go:24-220) —
including the golden micro-fixtures from the reference's own tests
(crawler_test.go, crawler2_test.go, metadata_test.go shapes).
"""

from geospatial_web_scraper_spark.kernel import (
    add_to_stringbuilder,
    extract_links,
    extract_metadata,
    extract_metadata_raw,
    extract_page,
    go_path_base,
    go_path_ext,
)
from geospatial_web_scraper_spark.kernel.html_kernel import (
    extract_links_tree,
    filename_for_download,
)


# ---------------------------------------------------------------- path helpers
def test_go_path_ext():
    assert go_path_ext("/a/b/file.zip") == ".zip"
    assert go_path_ext("/a/b/file") == ""
    assert go_path_ext("/a.b/c") == ""
    assert go_path_ext(".bashrc") == ".bashrc"
    assert go_path_ext("/x/archive.tar.gz") == ".gz"
    assert go_path_ext("") == ""
    assert go_path_ext("/dir/") == ""


def test_go_path_base():
    assert go_path_base("/a/b/file.zip") == "file.zip"
    assert go_path_base("/a/b/") == "b"
    assert go_path_base("/") == "/"
    assert go_path_base("") == "."
    assert go_path_base("plain") == "plain"


def test_filename_for_download():
    # crawler.go:208-211 fallback rules
    assert filename_for_download("https://x.org/data/f.zip") == "f.zip"
    assert filename_for_download("https://x.org/") == "download"
    assert filename_for_download("https://x.org") == "download"


# ---------------------------------------------------------------- link walk
BASE = "https://host0.example.com/page/1.html"


def test_links_10_fixture():
    """Reference crawler_test.go:22-23: page with exactly 10 links."""
    links = "".join(f'<a href="/links/10/{i}">l{i}</a>' for i in range(10))
    html = f"<html><body>{links}</body></html>"
    out = extract_links(html, BASE)
    assert [o["url"] for o in out] == [
        f"https://host0.example.com/links/10/{i}" for i in range(10)
    ]
    assert [o["pos"] for o in out] == list(range(10))
    assert not any(o["is_geo"] for o in out)


def test_one_zip_fixture():
    """Reference crawler2_test.go:45-67: single '/file.zip' anchor resolves
    absolute and classifies geo."""
    html = "<html><body><a href='/file.zip'>data</a></body></html>"
    out = extract_links(html, BASE)
    assert out == [
        {"url": "https://host0.example.com/file.zip", "is_geo": True, "pos": 0}
    ]


def test_scheme_and_malformed_filters():
    html = (
        "<body>"
        "<a href='mailto:x@y.org'>m</a>"
        "<a href='tel:+1555'>t</a>"
        "<a href='http://['>bad</a>"
        "<a href='ok.html'>ok</a>"
        "</body>"
    )
    out = extract_links(html, BASE)
    assert [o["url"] for o in out] == ["https://host0.example.com/page/ok.html"]


def test_geo_ext_classification_is_case_insensitive_and_query_safe():
    html = (
        "<body>"
        "<a href='/d/F.ZIP'>z</a>"
        "<a href='/d/f.geojson?v=2'>g</a>"
        "<a href='/d/f.html'>h</a>"
        "</body>"
    )
    out = extract_links(html, BASE)
    assert [(o["url"].rsplit("/", 1)[-1], o["is_geo"]) for o in out] == [
        ("F.ZIP", True),
        ("f.geojson?v=2", True),
        ("f.html", False),
    ]


def test_boilerplate_subtree_pruning():
    """crawler.go:126-130: gate applies to element children during recursion —
    the anchor inside class='nav-menu' is never visited; gate is substring,
    case-insensitive, on class/id only."""
    html = (
        "<body>"
        "<div class='NAV-menu'><a href='/hidden1.html'>x</a></div>"
        "<div id='page-footer'><a href='/hidden2.html'>x</a></div>"
        "<div class='content'><a href='/kept.html'>x</a></div>"
        "<a href='/kept2.html' class='share-btn'>self-gated</a>"
        "</body>"
    )
    out = extract_links(html, BASE)
    assert [o["url"].rsplit("/", 1)[-1] for o in out] == ["kept.html"]


def test_document_order_with_nesting():
    html = (
        "<body><div><a href='/a.html'>a</a>"
        "<ul><li><a href='/b.zip'>b</a></li></ul></div>"
        "<a href='/c.html'>c</a></body>"
    )
    out = extract_links(html, BASE)
    assert [o["url"].rsplit("/", 1)[-1] for o in out] == ["a.html", "b.zip", "c.html"]


# ---------------------------------------------------------------- stringbuilder
def test_add_to_stringbuilder_substring_dedup():
    # metadata.go:24-36: order-dependent, asymmetric
    buf = ""
    buf = add_to_stringbuilder(buf, "  hello world  ")
    assert buf == "hello world"
    buf = add_to_stringbuilder(buf, "world")  # substring → dropped
    assert buf == "hello world"
    buf = add_to_stringbuilder(buf, "hello world and more")  # superstring → kept
    assert buf == "hello world hello world and more"
    buf = add_to_stringbuilder(buf, "")  # empty → dropped
    assert buf == "hello world hello world and more"


# ---------------------------------------------------------------- metadata
def test_metadata_precedence_and_accumulation():
    html = (
        "<html><head>"
        "<title>Main Title</title>"
        "<meta name='description' content='First desc.'>"
        "<meta property='og:description' content='Second desc.'>"
        "<meta property='og:title' content='OG Title'>"
        "<meta name='keywords' content='a, b ,c'>"
        "<meta name='keywords' content='ignored, later'>"
        "</head><body>"
        "<p>Visible paragraph.</p>"
        "<h2>Heading two.</h2>"
        "<li>List item.</li>"
        "<span>span text is NOT collected</span>"
        "<div class='footer'><p>boilerplate text</p></div>"
        "<script>var x = 'script text must not leak';</script>"
        "</body></html>"
    )
    md = extract_metadata(html, BASE)
    # All title sources accumulate (md.Title=='' guard is vacuous in the walk)
    assert md["title"] == "Main Title OG Title"
    assert (
        md["description"]
        == "First desc. Second desc. Visible paragraph. Heading two. List item."
    )
    # keywords are genuinely first-wins, comma-split + trimmed
    assert md["keywords"] == ["a", "b", "c"]


def test_metadata_jsonld():
    html = (
        "<html><head>"
        '<script type="application/ld+json">'
        '{"name": "LD Name", "description": "LD desc", "keywords": "k1 , k2"}'
        "</script>"
        "</head><body><p>Body text.</p></body></html>"
    )
    md = extract_metadata(html, BASE)
    assert md["title"] == "LD Name"
    assert md["description"] == "LD desc Body text."
    assert md["keywords"] == ["k1", "k2"]


def test_metadata_boilerplate_gate_uses_meta_list():
    # 'usa-banner' is only in the metadata-side list; tag names gate too.
    html = (
        "<body>"
        "<nav><p>nav text</p></nav>"
        "<div class='usa-banner'><p>banner text</p></div>"
        "<p>kept text</p>"
        "</body>"
    )
    md = extract_metadata(html, BASE)
    assert md["description"] == "kept text"


def test_metadata_whitespace_normalization():
    html = "<body><p>  a\n\t b   c  </p></body>"
    md = extract_metadata(html, BASE)
    assert md["description"] == "a b c"


def test_metadata_substring_dedup_shapes_text():
    html = "<body><p>alpha beta</p><p>beta</p><p>alpha beta gamma</p></body>"
    md = extract_metadata(html, BASE)
    assert md["description"] == "alpha beta alpha beta gamma"


def test_xml_links_collected_not_fetched():
    html = "<head><link type='application/rss+xml' href='/feed.xml'></head>"
    md = extract_metadata(html, BASE)
    assert md["xml_links"] == ["/feed.xml"]


def test_parse_xml_meta_go_unmarshal_semantics():
    """C10 (metadata.go:200-211): flat xml:"title"/"description" struct tags
    bind only to DIRECT children of the root element — the Go quirk that
    makes standard RSS (<rss><channel><title>…) bind nothing."""
    from geospatial_web_scraper_spark.kernel import parse_xml_meta

    # Atom-style root: direct children bind; nested <entry><title> ignored
    assert parse_xml_meta(
        "<feed><title>T</title><description>D</description>"
        "<entry><title>no</title></entry></feed>"
    ) == {"title": "T", "description": "D"}
    # standard RSS: title/description live under <channel> → nothing binds
    assert parse_xml_meta(
        "<rss><channel><title>T</title><description>D</description>"
        "</channel></rss>"
    ) == {"title": "", "description": ""}
    # malformed XML → Unmarshal error → None (feed skipped)
    assert parse_xml_meta("<feed><title>T</title>") is None
    # repeated matches overwrite (Go assigns each occurrence — last wins)
    assert parse_xml_meta(
        "<feed><title>A</title><title>B</title></feed>"
    )["title"] == "B"
    # direct chardata only: nested element text excluded, tail included
    assert parse_xml_meta("<feed><title>a<b>x</b>c</title></feed>")["title"] == "ac"
    # local (namespace-stripped) element names match
    assert parse_xml_meta(
        '<f xmlns:a="urn:x"><a:title>N</a:title></f>'
    )["title"] == "N"


def test_extract_metadata_with_feeds_fold():
    """C10 fold quirks: feeds fold through add_to_stringbuilder on the RAW
    buffers (substring-dedup applies), missing feeds are skipped, and the
    result is whitespace-normalized at the end."""
    from geospatial_web_scraper_spark.kernel import extract_metadata_with_feeds

    html = (
        "<head><title>Page X</title>"
        '<link type="application/rss+xml" href="/feed.xml">'
        '<link type="application/atom+xml" href="/missing.xml">'
        "</head><body><p>Body text.</p></body>"
    )
    feeds = {
        "https://h.org/feed.xml": (
            "<feed><title>  Feed   T </title>"
            "<description>Feed D</description></feed>"
        )
    }
    md = extract_metadata_with_feeds(html, "https://h.org/p.html", feeds.get)
    assert md["title"] == "Page X Feed T"
    assert md["description"] == "Body text. Feed D"
    # substring-dedup: feed fragments already present in the buffer drop out
    feeds2 = {
        "https://h.org/feed.xml": (
            "<feed><title>Page</title><description>Body</description></feed>"
        )
    }
    md2 = extract_metadata_with_feeds(html, "https://h.org/p.html", feeds2.get)
    assert md2["title"] == "Page X"
    assert md2["description"] == "Body text."


# ---------------------------------------------------------------- streaming
def test_streaming_links_match_tree_walk_on_corpus():
    """The streaming _LinkParser must agree with the tree-walk reference
    implementation on every corpus page (all decoy classes exercised)."""
    from geospatial_web_scraper_spark import corpus
    from geospatial_web_scraper_spark.kernel.html_kernel import (
        extract_links,
        extract_links_tree,
    )

    n = 300
    for i in range(0, n, 1):
        html = corpus.html_of(i, n, filler_paras=3)
        url = corpus.url_of(i)
        assert extract_links(html, url) == extract_links_tree(html, url), i


def test_streaming_links_match_tree_walk_adversarial():
    from geospatial_web_scraper_spark.kernel.html_kernel import (
        extract_links,
        extract_links_tree,
    )

    cases = [
        # suppression subtree with anchors inside and after
        '<div class="nav-menu"><p><a href="/in">x</a></p></div><a href="/out">y</a>',
        # end tag popping THROUGH the suppression frame re-enables emission
        '<div class="nav-menu"><p></div><a href="/after">z</a>',
        # unmatched end tags ignored; unclosed tags
        '</div></p><a href="/a">1</a><div><a href="/b">',
        # self-closing anchors, wanted and unwanted
        '<a href="/sc"/><a class="sidebar" href="/no"/>',
        # unwanted class on the anchor itself
        '<a class="menu" href="/skip">s</a><a href="/keep">k</a>',
        # void element with unwanted class must not suppress what follows
        '<img class="sidebar"><a href="/v">v</a>',
        # anchors inside script CDATA are data, not markup
        '<script>var s = \'<a href="/fake">\';</script><a href="/real">r</a>',
        # duplicate href attributes emit twice; mailto/tel skipped
        '<a href="/one" href="/two">d</a><a href="mailto:x@y">m</a><a href="tel:+1">t</a>',
        # unresolvable href
        '<a href="http://[">bad</a><a href="/good">g</a>',
        # nested suppression: inner unwanted inside outer unwanted
        '<div class="sidebar"><div class="nav-menu"><a href="/nn">n</a></div></div><a href="/ok">o</a>',
        # case: uppercase tags/attrs (HTMLParser lowercases tags)
        '<DIV CLASS="NAV-MENU"><A HREF="/up">u</A></DIV><A HREF="/low">l</A>',
        # entity in href
        '<a href="/p?a=1&amp;b=2">e</a>',
        # comments and doctype
        '<!DOCTYPE html><!-- <a href="/c">no</a> --><a href="/yes">y</a>',
        # geo extension classification via resolved path
        '<a href="/data/f.ZIP">g</a><a href="/data/f.zip?x=1#f">h</a>',
        "",
        "plain text no tags",
        # --- unquoted attribute values ending in "/" (ADVICE r1, high) ---
        # trailing slash is part of the unquoted value, not a self-close
        "<a href=/about/>x</a>",
        # geo classification must NOT flip (href is x.zip/ → ext is empty)
        "<a href=x.zip/>y</a>",
        # unwanted class swallows the slash; the div stays OPEN → suppress
        '<div class=nav-menu/><a href="y">z</a>',
        # whitespace completes the value → genuine self-close
        "<a href=x />y</a>",
        # bare attribute names never swallow the slash → self-close
        "<a disabled/>y</a>",
        # a pending "=" claims the slash as its value, even across spaces
        "<a href= />y</a>",
        "<a href=/>y</a>",
        # double slash: first extends value, no self-close group left
        "<a href=x//>y</a>",
        # spaces around "=" still bind the value
        "<a href = x/>y</a>",
        # quoted value then slash → self-close
        '<a href="x"/>y</a>',
        # "=" inside an unquoted value
        "<a href=a=b/>y</a>",
        # slash then space → value keeps the slash, tag not self-closed
        "<a href=x/ >y</a>",
        # unwanted id with slashed unquoted href on the anchor itself
        "<a id=nav-menu href=/x/>y</a>",
        # CDATA ends only at a complete </script> / </style> end tag
        '<script>x</scriptx><a href="/fake">f</a></script><a href="/real">r</a>',
        '<style>x</styles><a href="/fake">f</a></style><a href="/real">r</a>',
        # "</" + non-letter is a bogus comment up to the next ">"
        '</3<a href="q">q</a>',
        # "</ name>" is an end tag; it pops the suppression frame
        '<div class="nav-menu"></ div><a href="/after">z</a>',
        # an end tag ends at its first ">", quoted or not
        '</a b="x>" <a href="/q">q</a>',
        # an unterminated comment is text up to its first ">"
        '<p><!-- c </p><a href="b">b</a>',
        '<!--x><a href="b">b</a>',
    ]
    base = "https://host0.example.org/page/1.html"
    for html in cases:
        assert extract_links(html, base) == extract_links_tree(html, base), html
        # the combined links + text pass emits the same links
        assert extract_page(html, base)[0] == extract_links(html, base), html


# ---------------------------------------------------------------- one pass
def test_page_metadata_matches_tree_walk_on_corpus():
    """extract_page's text mode equals the tree walk's raw metadata on
    every corpus page at filler 0 and 3, and on every 5th heavy page."""
    from geospatial_web_scraper_spark import corpus

    n = 300
    for filler, step in ((0, 1), (3, 1), (40, 5)):
        for i in range(0, n, step):
            html = corpus.html_of(i, n, filler_paras=filler)
            url = corpus.url_of(i)
            links, meta = extract_page(html, url)
            assert meta == extract_metadata_raw(html, url), (filler, i)
            assert links == extract_links_tree(html, url), (filler, i)
            assert extract_page(html, url, links=False) == (None, meta)


PAGE_CASES = [
    # entities in <title>, unescaped per chunk
    "<title>A &amp; B &lt;c&gt;</title><p>x &amp; y</p>",
    # an element as title's first child contributes its tag name
    "<title><b>bold</b> rest</title>",
    '<title><meta property="og:title" content="T"></title>',
    # <title/> never opens; an empty title has no first child
    "<title/><p>x</p>",
    "<title></title><p>y</p><title>  </title>",
    # a charref that unescapes to nothing makes no text node
    "<p>x &#1; y</p><title>&#1;<i>t</i></title>",
    # role= and tag-name metadata gates
    '<div role="navigation"><p>gated</p></div><p>kept</p>',
    "<nav><p>n</p></nav><footer><p>f</p></footer><p>k</p>",
    "<header><title>h</title></header><li>item</li>",
    # ld+json inside a skipped subtree, empty and unterminated scripts
    '<div class="sidebar"><script type="application/ld+json">'
    '{"name": "hidden"}</script></div><p>t</p>',
    '<script type="application/ld+json"></script><p>e</p>',
    '<p>before</p><script type="application/ld+json">{"name": "x"}',
    '<script type="application/ld+json">{"name": "N", "keywords": "a,b"}'
    '</SCRIPT ><p>after</p>',
    # script bodies are data; only a complete end tag closes them
    '<p>x</p><script>var a="<p>no</p>";</script ><p>after</p>',
    "<style>p{}</styles><p>in style</p></style><p>out</p>",
    # uppercase tags
    "<TITLE>Up</TITLE><P>Para</P><LI>item</LI>",
    # unquoted "/"-terminated attributes: a value, not a self-close
    "<meta name=description content=abc/><p>z</p>",
    "<div class=usa-banner/><p>in</p></div><p>out</p>",
    # comments split text into chunks; html.parser closes at "-- >"
    "<p>one<!-- c -->two</p>",
    "<p>a<!-- x -- >b</p>",
    # visible text only under a visible parent
    "<h1>h</h1><h2 class='menu'>m</h2><h3>x<span>in span</span>y</h3>",
    '<head><link type="application/rss+xml" href="/f.xml">'
    '<link class="nav" type="text/xml" href="/g.xml"></head>',
    # constructs the tokenizer does not model take the tree walk
    "<p>a < b</p>",
    "<p>tail<!-- open",
    "<p>t</p><!DOCTYPE",
    "<![CDATA[x]]><p>y</p>",
    "",
]


def test_page_metadata_matches_tree_walk_adversarial():
    base = "https://host0.example.org/page/1.html"
    for html in PAGE_CASES:
        links, meta = extract_page(html, base)
        assert meta == extract_metadata_raw(html, base), html
        assert links == extract_links_tree(html, base), html


def _attr(key, val, quote):
    if quote == "" and " " in val:
        quote = '"'
    return f" {key}={quote}{val}{quote}"


def _soup():
    """Tag soup over a small alphabet: the gate classes/roles/tags,
    title/meta/link/script, entities, comments, quote styles, self-closes,
    unmatched end tags, stray "<", and bare "</" and "<!--" atoms."""
    from hypothesis import strategies as st

    tags = ["a", "p", "li", "h1", "div", "span", "title", "meta", "link",
            "nav", "br", "img", "ul", "header", "b", "A", "P", "TITLE"]
    values = ["/a", "/d/f.ZIP", "mailto:x@y", "x/", "nav-menu", "sidebar",
              "Main", "description", "og:title", "keywords", "a, b",
              "application/rss+xml", "application/ld+json", "T &amp; U", "a b"]
    keys = ["href", "class", "id", "role", "name", "property", "content",
            "type"]
    attr = st.builds(_attr, st.sampled_from(keys), st.sampled_from(values),
                     st.sampled_from(['"', "'", ""]))
    start = st.builds(
        lambda t, attrs, close: f"<{t}{''.join(attrs)}{close}>",
        st.sampled_from(tags), st.lists(attr, max_size=3),
        st.sampled_from(["", "", "/", " /"]),
    )
    end = st.builds(lambda t: f"</{t.lower()}>", st.sampled_from(tags))
    text = st.sampled_from(["word", " two words ", "&amp;", "&lt;b&gt;",
                            "&#1;", "\n", "a < b", "caf&eacute;", "  "])
    markup = st.sampled_from(["<!-- c -->", "<!-- <p>no</p> -->",
                              "<!DOCTYPE html>", "</", "<!--"])
    script = st.builds(
        lambda t, typ, body, close: f"<{t}{typ}>{body}{close}",
        st.sampled_from(["script", "style", "SCRIPT"]),
        st.sampled_from(["", ' type="application/ld+json"', ' class="nav"']),
        st.sampled_from(['{"name": "N", "description": "D", "keywords": "k"}',
                         "var s = '<a href=\"/fake\">';",
                         "</scriptx><p>in</p>", "[1, 2]", ""]),
        st.sampled_from(["</script>", "</style>", "</script >", "</SCRIPT>",
                         ""]),
    )
    return st.lists(st.one_of(start, end, text, markup, script),
                    max_size=30).map("".join)


def test_page_matches_tree_twins_fuzz():
    """Differential fuzz: links and raw metadata from the one pass equal
    the tree twins on generated tag soup."""
    from hypothesis import HealthCheck, given, settings

    base = "https://host0.example.org/page/1.html"

    @settings(max_examples=300, deadline=None, database=None,
              derandomize=True, suppress_health_check=[HealthCheck.too_slow])
    @given(_soup())
    def check(html):
        links, meta = extract_page(html, base)
        assert links == extract_links_tree(html, base)
        assert meta == extract_metadata_raw(html, base)
        assert extract_links(html, base) == links

    check()
