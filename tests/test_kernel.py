"""Kernel tests transcribed from the reference's inline test suite.

Each test cites the reference test it mirrors (file:line in
/root/reference). Pure-Python (no Spark) — the kernel contract.
"""

import json
import textwrap

from defuddle_spark import Options, extract_document
from defuddle_spark.kernel import count_words, decode_html


def test_parse_basic_title_and_wordcount():
    # defuddle_test.go:23-39 TestParse
    html = "<html><head><title>Test Article</title></head><body><h1>Hello World</h1><p>This is a test article with some content.</p></body></html>"
    r = extract_document(html)
    assert r.title == "Test Article"
    assert r.word_count > 0


def test_parse_with_metadata():
    # defuddle_test.go:41-100 TestParseWithMetadata
    html = """<html>
        <head>
            <title>Advanced Test Article - Test Site</title>
            <meta name="description" content="This is a comprehensive test article">
            <meta name="author" content="John Doe">
            <meta property="og:title" content="Advanced Test Article">
            <meta property="og:description" content="OpenGraph description">
            <meta property="og:image" content="https://example.com/image.jpg">
        </head>
        <body>
            <header>Site Header</header>
            <nav>Navigation menu</nav>
            <article>
                <h1>Advanced Test Article</h1>
                <p class="author">By John Doe</p>
                <p>This is the main content of the article with multiple paragraphs.</p>
                <p>Here is another paragraph with more detailed content to test the word counting feature.</p>
            </article>
            <aside class="sidebar">Sidebar content</aside>
            <footer>Site footer</footer>
        </body>
    </html>"""
    r = extract_document(html)
    assert r.title == "Advanced Test Article"
    assert r.description == "This is a comprehensive test article"
    assert r.author == "John Doe"
    assert r.image == "https://example.com/image.jpg"
    assert len(r.meta_tags) > 0
    assert r.word_count > 10


def test_content_extraction():
    # defuddle_test.go:102-135 TestContentExtraction
    html = """<html>
        <head><title>Content Test</title></head>
        <body>
            <div class="ad">Advertisement content</div>
            <header>Site header</header>
            <nav>Navigation</nav>
            <main>
                <article>
                    <h1>Main Article</h1>
                    <p>This is the main content that should be extracted.</p>
                    <p>Multiple paragraphs of valuable content.</p>
                </article>
            </main>
            <aside class="sidebar">Sidebar</aside>
            <div class="comments">Comments section</div>
            <footer>Footer</footer>
        </body>
    </html>"""
    r = extract_document(html)
    assert "Main Article" in r.content
    assert "main content that should be extracted" in r.content
    assert "Advertisement" not in r.content
    assert "Sidebar" not in r.content


def test_selector_removal():
    # defuddle_test.go:137-163 TestSelectorRemoval
    html = """<html>
        <head><title>Selector Test</title></head>
        <body>
            <div class="advertisement">Ad content</div>
            <div id="navigation">Nav content</div>
            <div class="post-meta">Meta info</div>
            <article>
                <h1>Clean Article</h1>
                <p>This content should remain after selector removal.</p>
            </article>
            <div class="comments">Comments</div>
            <footer>Footer</footer>
        </body>
    </html>"""
    r = extract_document(html)
    assert "Clean Article" in r.content


def test_count_words():
    # defuddle_test.go:165-173 TestCountWords
    assert count_words("<p>This is a test with five words.</p>") == 7


def test_retry_logic_short_content():
    # defuddle_test.go:176-197 TestRetryLogic
    html = """<html>
        <head><title>Short Article</title></head>
        <body>
            <div class="ad">Large advertisement content that might be removed</div>
            <div class="navigation">Navigation with many links</div>
            <article>
                <h1>Short</h1>
                <p>Brief.</p>
            </article>
        </body>
    </html>"""
    r = extract_document(html)
    assert r.word_count > 0


def test_retry_recovers_partial_selector_false_positive():
    # defuddle_test.go:199-219 TestParseRetriesWithoutPartialSelectorRemoval...
    body = "Recovered article paragraph with reader visible reporting and analysis. " * 24
    html = (
        "<html><head><title>Recovered Article</title></head><body><main><article>"
        "<h1>Recovered Article</h1>"
        "<p>Brief lead.</p>"
        f'<section class="reader-comments-analysis"><p>{body}</p></section>'
        "</article></main></body></html>"
    )
    r = extract_document(html)
    assert "Recovered article paragraph" in r.content
    assert r.word_count > 200
    assert r.retry_used


def test_schema_org_extraction_and_title():
    # defuddle_test.go:650-700 TestSchemaOrgImprovement
    html = """<!DOCTYPE html>
    <html>
    <head>
        <title>Schema.org Test</title>
        <script type="application/ld+json">
        {
            "@context": "https://schema.org",
            "@type": "Article",
            "headline": "Test Article with JSON-LD",
            "author": {"@type": "Person", "name": "Jane Doe"},
            "datePublished": "2024-01-15T10:00:00Z",
            "description": "Testing improved schema.org processing"
        }
        </script>
    </head>
    <body>
        <article>
            <h1>Test Article with JSON-LD</h1>
            <p>This article tests our improved schema.org processing.</p>
        </article>
    </body>
    </html>"""
    r = extract_document(html)
    assert r.title == "Test Article with JSON-LD"
    assert r.author == "Jane Doe"
    assert r.published == "2024-01-15T10:00:00Z"
    assert "Jane Doe" in r.schema_org


def test_schema_org_inline_context_fallback():
    # defuddle_test.go:788-815 TestSchemaOrgDataRetainsInlineContextWhenExpansionFails
    html = """<html><head>
        <title>Fallback Title</title>
        <script type="application/ld+json">
        {
            "@context": "https://schema.org",
            "@type": "Article",
            "headline": "Inline Schema Headline",
            "description": "Inline schema description",
            "author": {"@type": "Person", "name": "Schema Author"}
        }
        </script>
    </head><body><article><h1>Inline Schema Headline</h1><p>Readable article body for schema fallback.</p></article></body></html>"""
    r = extract_document(html)
    assert r.title == "Inline Schema Headline"
    assert r.description == "Inline schema description"
    assert r.author == "Schema Author"


def test_schema_org_custom_inline_context_via_expansion():
    """extract_semantic-style page whose JSON-LD carries a NON-trivial
    inline @context (keyword alias `kind`->@type, term map
    `writer`->schema.org/author): the expansion path maps both back into
    schema.org names the metadata chain consumes — the raw fallback
    would leave `writer` unmapped and author empty (json-gold's
    with-network behavior, defuddle.go:1024-1056)."""
    html = """<html><head>
        <title>Custom Context Page</title>
        <script type="application/ld+json">
        {
            "@context": {"@vocab": "http://schema.org/",
                         "kind": "@type",
                         "writer": "http://schema.org/author"},
            "kind": "Article",
            "headline": "Custom Context Headline",
            "writer": {"kind": "Person", "name": "Aliased Author"}
        }
        </script>
    </head><body><article><h1>Custom Context Headline</h1><p>Readable body for the custom context page.</p></article></body></html>"""
    r = extract_document(html)
    assert r.title == "Custom Context Headline"
    assert r.author == "Aliased Author"
    items = json.loads(r.schema_org)
    assert items[0]["type"] == "Article"
    assert items[0]["@type"] == "Article"   # preserveJSONLDType mirror
    assert items[0]["author"]["name"] == "Aliased Author"


def test_schema_org_graph_and_author_arrays():
    # defuddle_test.go:817-859 TestSchemaOrgDataHandlesGraphAndArrays
    html = """<html><head>
        <script type="application/ld+json">
        {
            "@context": "https://schema.org",
            "@graph": [
                {"@type": "Organization", "name": "Example Publisher"},
                {"@type": "Article", "headline": "Graph Headline",
                 "author": [{"name": "First Author"}, {"name": "Second Author"}]}
            ]
        }
        </script>
    </head><body><article><h1>Graph Headline</h1><p>Readable article body for graph schema.</p></article></body></html>"""
    r = extract_document(html)
    assert r.title == "Graph Headline"
    assert r.author == "First Author, Second Author"
    assert "Example Publisher" in r.schema_org


def test_schema_org_invalid_json_ignored():
    # defuddle_test.go:861-875 TestSchemaOrgDataIgnoresInvalidJSON
    html = """<html><head>
        <title>Document Title</title>
        <script type="application/ld+json">{invalid json</script>
    </head><body><article><h1>Document Title</h1><p>Readable article body for invalid schema.</p></article></body></html>"""
    r = extract_document(html)
    assert r.schema_org == "[]"
    assert r.title == "Document Title"


def test_remove_images_option():
    # defuddle_test.go:702-786 TestRemoveImages
    html = """<html>
        <head><title>Test Article</title></head>
        <body>
            <h1>Test Article</h1>
            <p>This is some text content.</p>
            <img src="test1.jpg" alt="Test image 1">
            <p>More content.</p>
            <svg><rect width="100" height="100"/></svg>
            <p>Final content.</p>
            <video src="test.mp4"></video>
            <canvas width="200" height="100"></canvas>
            <picture><img src="test2.jpg" alt="Test image 2"></picture>
        </body>
    </html>"""
    keep = extract_document(html, options=Options(remove_images=False))
    assert "<img" in keep.content
    assert "<svg" in keep.content
    assert "<video" in keep.content

    drop = extract_document(html, options=Options(remove_images=True))
    assert "<img" not in drop.content
    assert "<svg" not in drop.content
    assert "<video" not in drop.content
    assert "<canvas" not in drop.content
    assert "<picture" not in drop.content
    assert "This is some text content" in drop.content
    assert drop.title == "Test Article"


def test_small_svg_removed_by_viewbox_identifier():
    # defuddle_test.go:989-1004 TestParseRemovesSmallSVGByStableIdentifier
    html = """<html><head><title>SVG Article</title></head><body><article>
        <h1>SVG Article</h1>
        <p>Readable SVG article body.</p>
        <svg width="20" height="80" viewBox="0 0 20 80"><rect width="20" height="80"></rect></svg>
        <svg width="120" height="80" viewBox="0 0 120 80"><rect width="120" height="80"></rect></svg>
    </article></body></html>"""
    r = extract_document(html)
    assert 'viewBox="0 0 20 80"' not in r.content
    assert 'viewBox="0 0 120 80"' in r.content


def test_default_cleanup_removes_header_and_comments():
    # defuddle_test.go:934-952 TestParseFromStringNilOptionsUsesDefaultSelectorCleanup
    html = """<html><head><title>Default Cleanup</title></head><body>
        <header>Header clutter</header>
        <main><article><h1>Default Cleanup</h1><p>Readable article body for default cleanup.</p></article></main>
        <div id="comments">Comment clutter</div>
    </body></html>"""
    r = extract_document(html)
    assert "Readable article body" in r.content
    assert "Header clutter" not in r.content
    assert "Comment clutter" not in r.content


def test_table_based_content_selection():
    # content_selection_test.go:12-28
    body = "Table based article paragraph with enough original reporting and analysis. " * 12
    html = (
        "<html><head><title>Table Article</title></head><body>"
        '<table><tr><td><nav><a href="/a">Home</a><a href="/b">Archive</a></nav></td>'
        f"<td><h1>Table Article</h1><p>{body}</p></td></tr></table>"
        "</body></html>"
    )
    r = extract_document(html)
    assert "Table based article paragraph" in r.content
    assert "Archive" not in r.content
    assert r.word_count > 50


def test_scored_content_selection():
    # content_selection_test.go:30-46
    body = "Scored article text with meaningful sentences for readers. " * 14
    html = (
        "<html><head><title>Scored Article</title></head><body>"
        '<div class="site-nav"><a href="/one">One</a><a href="/two">Two</a><a href="/three">Three</a></div>'
        f'<section class="layout"><h1>Scored Article</h1><p>{body}</p></section>'
        "</body></html>"
    )
    r = extract_document(html)
    assert "Scored article text" in r.content
    assert "site-nav" not in r.content
    assert r.word_count > 50


def test_body_fallback_when_nothing_qualifies():
    # content_selection_test.go:48-58
    html = "<html><head><title>Tiny Page</title></head><body><span>Short body</span></body></html>"
    r = extract_document(html)
    assert "Short body" in r.content
    assert r.word_count == 2


def test_advanced_standardization():
    # defuddle_test.go:221-330 TestAdvancedAlgorithms (non-debug variant)
    html = """<html>
        <head>
            <title>Advanced Algorithm Test</title>
            <script type="application/ld+json">
            {
                "@context": "https://schema.org",
                "@type": "Article",
                "headline": "Advanced Algorithm Test",
                "author": {"@type": "Person", "name": "Jane Smith"},
                "datePublished": "2024-01-15",
                "description": "Testing advanced algorithms"
            }
            </script>
        </head>
        <body>
            <div style="display: none;">Hidden content</div>
            <img src="small.jpg" width="20" height="20" alt="Small image">
            <img src="large.jpg" width="400" height="300" alt="Large image">
            <article>
                <h1>Advanced Algorithm Test</h1>
                <h1>Another H1 that should become H2</h1>
                <div role="paragraph">This should become a paragraph</div>
                <div role="list">
                    <div role="listitem">
                        <span class="label">1)</span>
                        <div class="content"><div role="paragraph">First item</div></div>
                    </div>
                    <div role="listitem">
                        <span class="label">2)</span>
                        <div class="content"><div role="paragraph">Second item</div></div>
                    </div>
                </div>
                <p>Main content with <a href="#footnote1">footnote reference</a>.</p>
                <br><br><br>
                <p></p>
                <h3>Trailing heading</h3>
            </article>
        </body>
    </html>"""
    r = extract_document(html)
    assert r.title == "Advanced Algorithm Test"
    assert "<h1>Advanced Algorithm Test</h1>" not in r.content
    assert "<h2>Another H1 that should become H2</h2>" in r.content
    assert "<p>This should become a paragraph</p>" in r.content
    assert "<ol>" in r.content
    assert "<sup" in r.content  # footnote ref a[href^="#fn"] wrapped
    assert "Trailing heading" not in r.content
    assert "Hidden content" not in r.content
    assert "small.jpg" not in r.content
    assert r.word_count > 0


def test_degenerate_inputs_never_raise():
    # FIXTURES.md archetype 15; defuddle.go:509-541 fallback behavior
    for html in ("", "   ", "<p>no body wrapper", "<<<>>>", "<html></html>"):
        r = extract_document(html)
        assert r.error is None or isinstance(r.error, str)


def test_decode_html_charsets():
    # defuddle.go:241-257; parsefromurl_test.go charset cases
    assert decode_html("héllo".encode("utf-8")) == "héllo"
    latin = '<html><head><meta charset="iso-8859-1"></head><body>caf\xe9</body></html>'.encode("iso-8859-1")
    assert "café" in decode_html(latin)
    assert decode_html(b"\xef\xbb\xbfhi") == "hi"
    assert decode_html(b"") == ""
    # undeclared non-utf8 falls back to cp1252
    assert decode_html(b"caf\xe9") == b"caf\xe9".decode("cp1252")


def test_hackernews_extractor():
    # extractors/hackernews.go; extractor_test.go routing
    html = """<html><body><table class="fatitem"><tr class="athing" id="1">
        <td class="title"><span class="titleline"><a href="https://example.com/story">Great Story</a></span></td></tr>
        <tr><td class="subtext"><span class="score">100 points</span> by <a class="hnuser">alice</a>
        <span class="age" title="2024-03-01T12:00:00"></span></td></tr>
    </table>
    <table class="comment-tree">
      <tr class="comtr" id="2"><td><table><tr><td class="ind"><img width="0"></td>
        <td><div class="comment"><span class="commtext">First comment</span>
        <a class="hnuser">bob</a><span class="age" title="2024-03-01T13:00:00"></span></div></td></tr></table></td></tr>
      <tr class="comtr" id="3"><td><table><tr><td class="ind"><img width="40"></td>
        <td><div class="comment"><span class="commtext">Nested reply</span>
        <a class="hnuser">carol</a><span class="age" title="2024-03-01T14:00:00"></span></div></td></tr></table></td></tr>
    </table></body></html>"""
    r = extract_document(html, url="https://news.ycombinator.com/item?id=12345")
    assert r.extractor_type == "hackernews"
    assert r.title == "Great Story"
    assert r.author == "alice"
    assert r.site == "Hacker News"
    assert r.published == "2024-03-01"
    assert "First comment" in r.content
    assert "Nested reply" in r.content
    assert "blockquote" in r.content


def test_non_matching_url_uses_generic_path():
    html = "<html><head><title>T</title></head><body><article><p>body text here</p></article></body></html>"
    r = extract_document(html, url="https://example.com/post")
    assert r.extractor_type is None
    assert r.domain == "example.com"


def test_retry_skip_is_output_equivalent():
    """The retry-skip fast path (kernel.extract_document) must produce
    byte-identical output to an unconditional two-pass run when the first
    pass removed nothing via partial selectors."""
    import dataclasses
    from defuddle_spark import kernel as K

    short_no_partial = (
        "<html><head><title>Tiny</title></head><body>"
        "<nav><a href='/'>Home</a></nav>"
        "<article><h1>Tiny</h1><p>Just a few words here.</p></article>"
        "</body></html>"
    )
    fast = extract_document(short_no_partial)
    assert not fast.retry_used and fast.partial_removals == 0

    # Reference-faithful unconditional retry for comparison.
    opts = Options()
    doc = K.parse(short_no_partial)
    pre = K._page_metadata(doc, "")
    first = K._pass(doc, pre, "", None, opts)
    retry = K._pass(
        K.parse(short_no_partial), pre, "", None,
        dataclasses.replace(opts, remove_partial_selectors=False))
    expected = retry if retry.word_count > first.word_count else first
    assert fast.content == expected.content
    assert fast.extracted_text == expected.extracted_text
    assert fast.word_count == expected.word_count


def test_retry_still_runs_when_partials_removed():
    """A short doc whose partial sweep DID remove content must still take
    the retry path (no over-eager skipping)."""
    body = "Recovered paragraph with enough words to win the retry pass. " * 24
    html = (
        "<html><head><title>R</title></head><body><main><article>"
        "<h1>R</h1><p>Lead.</p>"
        f'<section class="reader-comments-analysis"><p>{body}</p></section>'
        "</article></main></body></html>"
    )
    r = extract_document(html)
    assert r.retry_used
    assert "Recovered paragraph" in r.content


def test_entry_point_tables_match_selector_engine():
    """The hand-coded entry-point dispatch must agree with the compiled
    selector engine for every selector on a page exercising them all."""
    from defuddle_spark import constants, kernel as K
    from defuddle_spark.dom import parse
    from defuddle_spark.selectors import compile_selector

    html = """<html><body>
      <div role="main">role-main</div>
      <div class="entry-content extra">classes</div>
      <div id="article-content">by-id</div>
      <article><p>a</p></article>
      <main><p>m</p></main>
      <section role="article">ra</section>
      <div class="post-content">pc</div><div class="post">p</div>
      <div class="markdown-body">mb</div><div class="article_post">ap</div>
      <div class="article-wrapper">aw</div><div class="content-article">ca</div>
      <div class="article-content">ac2</div><div id="post">idpost</div>
      <span class="postx">no</span><div role="mainx">no</div>
    </body></html>"""
    doc = parse(html)
    selectors = [s for s in constants.ENTRY_POINT_ELEMENTS if s != "body"]
    # engine answer: first doc-order match per selector
    engine = []
    for s in selectors:
        sel = compile_selector(s)
        engine.append(next((e for e in doc.html.descendants()
                            if sel.match(e)), None))
    # table answer: replicate find_main_content's walk without early exit
    matches = [None] * K._N_ENTRIES
    for el in doc.html.descendants():
        i = K._ENTRY_TAGS.get(el.tag)
        if i is not None and matches[i] is None:
            matches[i] = el
        for k, v in el.attrs:
            if k == "id":
                i = K._ENTRY_IDS.get(v)
            elif k == "class":
                for token in v.split():
                    j = K._ENTRY_CLASSES.get(token)
                    if j is not None and matches[j] is None:
                        matches[j] = el
                continue
            elif k == "role":
                i = K._ENTRY_ROLES.get(v)
            else:
                continue
            if i is not None and matches[i] is None:
                matches[i] = el
    assert matches == engine
    # and the public function picks the highest-priority hit
    assert K.find_main_content(doc) is engine[0] or engine[0] is None


def test_selector_group_routing_matches_bruteforce():
    """The SelectorGroup routing index (tag/id/class/attr buckets) must
    agree with brute-force any(selector matches) for the real selector
    tables on elements exercising every bucket."""
    from defuddle_spark import constants
    from defuddle_spark.dom import parse
    from defuddle_spark.selectors import SelectorGroup, compile_selector

    tables = [constants.EXACT_SELECTORS,
              constants.FOOTNOTE_INLINE_REFERENCES,
              constants.FOOTNOTE_LIST_SELECTORS]
    html = """<html><body>
      <nav>n</nav><footer>f</footer><aside>a</aside>
      <div class="ad extra">ad</div><div class="sidebar">s</div>
      <div id="comments">c</div><ol class="footnotes"><li>x</li></ol>
      <a href="#fn:1">1</a><sup class="footnote">2</sup>
      <a rel="footnote">3</a><div role="doc-endnotes">e</div>
      <section id="fn:2">fn</section><span data-component="x">d</span>
      <p class="nice">keep</p><article>body</article>
      <form>f</form><iframe src="https://www.youtube.com/embed/x"></iframe>
    </body></html>"""
    doc = parse(html)
    for table in tables:
        group = SelectorGroup(table)
        compiled = [compile_selector(s) for s in table]
        for el in doc.html.descendants():
            brute = any(c.match(el) for c in compiled)
            assert group.matches(el) == brute, (el.tag, el.attrs)


def test_shared_options_url_never_leaks_across_documents():
    # ADVICE r3 (medium): the Arrow-batch path reuses ONE Options instance
    # across a whole batch. A doc with an empty url must not inherit the
    # previous doc's url (domain/favicon/routing), and the shared Options
    # must come out of extract_document unmutated.
    html = "<html><head><title>T</title></head><body><p>some words here for content</p></body></html>"
    opts = Options()
    r1 = extract_document(html, url="https://example.com/a", options=opts)
    assert r1.domain == "example.com"
    assert opts.url == ""  # shared instance untouched
    r2 = extract_document(html, url="", options=opts)
    assert r2.domain == ""  # no leak from r1
    assert "example.com" not in r2.favicon  # relative default, not r1's host
    # explicit caller-configured url still honoured when the per-doc url is empty
    opts2 = Options(url="https://configured.example.org/x")
    r3 = extract_document(html, url="", options=opts2)
    assert r3.domain == "configured.example.org"


def test_parse_count_per_document(monkeypatch):
    """One parse per pass, plus one of an extractor's content for its text
    and word count: 1 on a generic page, 2 on an extractor page, 2 on a
    page that retries."""
    from defuddle_spark import kernel as K

    calls = []
    real_parse = K.parse

    def counting_parse(html):
        calls.append(html)
        return real_parse(html)

    monkeypatch.setattr(K, "parse", counting_parse)

    def parses(html, url=""):
        calls.clear()
        r = extract_document(html, url=url)
        assert r.error is None
        return len(calls), r

    n, r = parses("<html><head><title>T</title></head><body><article>"
                  "<p>body text here</p></article></body></html>",
                  "https://example.com/post")
    assert (n, r.extractor_type, r.retry_used) == (1, None, False)

    github = """<html><head>
        <meta name="expected-hostname" content="github.com">
        <meta name="github-keyboard-shortcuts" content="">
        <title>Test Issue · o/r</title></head><body>
        <div data-testid="issue-title">Test Issue</div>
        <div data-testid="issue-viewer-issue-container">
            <div data-testid="issue-body-viewer"><div class="markdown-body">
                <p>This is a test issue body.</p></div></div>
        </div></body></html>"""
    n, r = parses(github, "https://github.com/o/r/issues/1")
    assert (n, r.extractor_type) == (2, "github")

    body = "Recovered paragraph with enough words to win the retry pass. " * 24
    n, r = parses(
        "<html><head><title>R</title></head><body><main><article>"
        "<h1>R</h1><p>Lead.</p>"
        f'<section class="reader-comments-analysis"><p>{body}</p></section>'
        "</article></main></body></html>")
    assert (n, r.retry_used) == (2, True)


def test_route_reported_when_the_pass_raises(monkeypatch):
    """The per-document error path still names the url's route."""
    from defuddle_spark import kernel as K

    def boom(*args):
        raise RuntimeError("injected pass failure")

    monkeypatch.setattr(K, "_pass", boom)
    r = extract_document("<html><body><p>x</p></body></html>",
                         url="https://GitHub.com/a/b/issues/1")
    assert r.error == "RuntimeError: injected pass failure"
    assert r.extractor_route == "github"
    assert r.extractor_type is None


def test_retried_document_makes_one_registry_lookup(monkeypatch):
    """Both passes of a retried page reuse one registry lookup. The url
    routes to GitHub, whose extractor declines this generic page, so the
    retry runs the generic path again."""
    from defuddle_spark import kernel as K

    calls = []
    real_lookup = K.lookup

    def counting_lookup(url):
        calls.append(url)
        return real_lookup(url)

    monkeypatch.setattr(K, "lookup", counting_lookup)
    body = "Recovered paragraph with enough words to win the retry pass. " * 24
    url = "https://github.com/o/r/issues/1"
    r = extract_document(
        "<html><head><title>R</title></head><body><main><article>"
        "<h1>R</h1><p>Lead.</p>"
        f'<section class="reader-comments-analysis"><p>{body}</p></section>'
        "</article></main></body></html>", url=url)
    assert r.error is None and r.retry_used
    assert (r.extractor_route, r.extractor_type) == ("github", None)
    assert calls == [url]
