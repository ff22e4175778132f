"""Standardization unit tests transcribed from the reference
(internal/standardize/content_test.go, content_behavior_test.go)."""

from defuddle_spark.dom import parse
from defuddle_spark.selectors import find_all, find_first
from defuddle_spark.standardize import (remove_empty_lines,
                                        standardize_content,
                                        _transform_list_item_element)


def _article(html):
    doc = parse(html)
    return find_first(doc.html, "article"), doc


def test_content_standardizes_semantic_structure():
    # content_test.go:23-60
    article, doc = _article("""<html><body><article>
        <h1>Example Title</h1>
        <div role="paragraph" id="intro">Intro text</div>
        <div role="list" id="steps">
            <div role="listitem">
                <span class="label">1)</span>
                <div class="content"><div role="paragraph">First item</div></div>
            </div>
        </div>
        <p>Body<a class="footnote-backref" href="#fnref:1">↩</a></p>
        <h3>Trailing heading</h3>
    </article></body></html>""")
    standardize_content(article, "Example Title", doc, False)
    assert not [d for d in article.descendants() if d.tag in ("h1", "h2", "h3")]
    assert "Intro text" in article.text()
    assert "First item" in article.text()
    assert len(find_all(article, "ol li")) == 1
    assert find_all(article, ".footnote-backref") == []
    assert find_all(article, "[role]") == []


def test_debug_mode_preserves_wrappers_and_attrs():
    # content_test.go:62-82
    article, doc = _article('<html><body><article id="content" class="root" data-score="17"><div class="wrapper" data-step="keep"><p>Wrapped text</p></div></article></body></html>')
    standardize_content(article, "", doc, True)
    assert [d for d in article.descendants() if d.tag == "div"]
    assert article.get("id") == "content"
    assert article.get("class") == "root"
    assert article.get("data-score") == "17"


def test_strips_attributes_preserving_special_cases():
    # content_test.go:84-118
    article, doc = _article('<html><body><article class="root" data-score="17"><p id="fn:1" data-extra="removed"><a href="https://example.com" onclick="evil()" data-extra="removed">source</a><code class="language-go" onclick="evil()">fmt.Println()</code></p></article></body></html>')
    standardize_content(article, "", doc, False)
    assert not article.has_attr("class")
    assert not article.has_attr("data-score")
    assert len(find_all(article, '[id="fn:1"]')) == 1
    p = find_first(article, "p")
    assert not p.has_attr("data-extra")
    link = find_first(article, "a")
    assert link.get("href") == "https://example.com"
    assert not link.has_attr("onclick")
    code = find_first(article, "code")
    assert code.get("class") == "language-go"
    assert not code.has_attr("onclick")


def test_lite_youtube_and_br_limits():
    # content_test.go:120-144
    article, doc = _article('<html><body><article><p>Before</p><lite-youtube videoid="abc123" videotitle="Demo video"></lite-youtube><p>After<br><br><br><br>Breaks</p></article></body></html>')
    standardize_content(article, "", doc, False)
    assert find_all(article, "lite-youtube") == []
    iframe = find_first(article, "iframe")
    assert iframe is not None
    assert iframe.get("src") == "https://www.youtube.com/embed/abc123"
    assert iframe.get("title") == "Demo video"
    assert len([d for d in article.descendants() if d.tag == "br"]) == 2


def test_normalizes_text_preserving_pre_and_code():
    # content_test.go:146-163 (pre expectation carries literal NBSPs)
    article, doc = _article("<html><body><article><p>Alpha   beta‌ gamma   , done</p><pre>one\xa0\xa0 two</pre><code>fmt  .Println</code></article></body></html>")
    standardize_content(article, "", doc, False)
    assert find_first(article, "p").text() == "Alpha beta gamma, done"
    assert find_first(article, "pre").text() == "one\xa0\xa0 two"
    assert find_first(article, "code").text() == "fmt  .Println"


def test_flattens_wrappers_preserving_readable_text():
    # content_test.go:165-195
    article, doc = _article("""<html><body><article>
        <div class="outer wrapper"><div class="inner container"><p>Wrapped paragraph</p></div></div>
        <div role="main" id="main-content"><p>Main role content</p></div>
        <div class="inline-card">Inline <strong>text</strong></div>
        <div class="punctuation"><span>,</span><span> </span></div>
    </article></body></html>""")
    standardize_content(article, "", doc, False)
    assert find_all(article, ".outer, .inner, .punctuation") == []
    inline_ps = [p for p in find_all(article, "p") if "Inline text" in p.text()]
    assert len(inline_ps) == 1
    assert "Wrapped paragraph" in article.text()
    assert "Main role content" in article.text()


def test_preserves_semantic_containers_and_inline_spacing():
    # content_behavior_test.go:12-29
    article, doc = _article("""<html><body><article>
        <div class="content-card"><p>Preserved semantic content</p></div>
        <p>Read<strong>bold</strong><em>emphasis</em><span>, punctuation</span></p>
    </article></body></html>""")
    standardize_content(article, "", doc, False)
    assert "Preserved semantic content" in article.text()
    ps = find_all(article, "p")
    assert ps[-1].text() == "Read bold emphasis, punctuation"


def test_unordered_role_lists_and_bare_items():
    # content_behavior_test.go:31-54
    article, doc = _article("""<html><body><article>
        <div role="list">
            <div role="listitem"><div class="content"><div role="paragraph">Alpha item</div></div></div>
            <div role="listitem"><div class="content"><div role="paragraph">Beta item</div></div></div>
        </div>
        <div role="listitem"><div class="content"><div role="paragraph">Loose item</div></div></div>
    </article></body></html>""")
    standardize_content(article, "", doc, False)
    assert len(find_all(article, "ul > li")) == 2
    assert find_all(article, "ol") == []
    assert "Loose item" in article.text()


def test_nested_role_lists():
    # content_behavior_test.go:56-85
    article, doc = _article("""<html><body><article>
        <div role="list">
            <div role="listitem">
                <span class="label">1)</span>
                <div class="content">
                    <div role="paragraph">Parent item</div>
                    <div role="list">
                        <div role="listitem"><span class="label">a)</span><div class="content"><div role="paragraph">Nested bullet</div></div></div>
                    </div>
                </div>
            </div>
        </div>
    </article></body></html>""")
    standardize_content(article, "", doc, False)
    assert find_all(article, "ol > li")
    assert find_all(article, "ul li")
    assert "Parent item" in article.text() and "Nested bullet" in article.text()


def test_removes_only_headings_without_following_content():
    # content_behavior_test.go:87-103
    article, doc = _article("""<html><body><article>
        <h2>Section with body</h2><p>Body text</p><h3>Dangling heading</h3>
    </article></body></html>""")
    standardize_content(article, "", doc, False)
    assert "Section with body" in article.text()
    assert "Dangling heading" not in article.text()


def test_remove_empty_lines_preserves_code():
    # content_behavior_test.go:105-130
    article, doc = _article("""<html><body><article>
        <p>
            Alpha   beta   , gamma
        </p>
        <span>One</span><span>Two</span><span>.</span>
        <pre>
            keep   spacing
        </pre>
    </article></body></html>""")
    remove_empty_lines(article)
    assert find_first(article, "p").text().strip() == "Alpha beta, gamma"
    assert "One Two." in article.text()
    assert "keep   spacing" in find_first(article, "pre").text()


def test_transform_list_item_without_content_untouched():
    # content_behavior_test.go:132-146
    doc = parse('<html><body><div role="listitem">Plain item</div></body></html>')
    item = find_first(doc.html, '[role="listitem"]')
    got = _transform_list_item_element(item)
    assert got.tag == "div"
    assert got.text() == "Plain item"


def test_paragraph_div_with_block_children_splits_like_reference():
    """div[role=paragraph] conversion must go through the fragment
    reparse: block children split OUT of the new <p> (p-closing rules),
    exactly like goquery ReplaceWithHtml — never p-in-p trees."""
    from defuddle_spark.dom import parse
    from defuddle_spark.standardize import standardize_content

    doc = parse('<html><body><article><div role="paragraph">a<p>b</p>'
                "</div></article></body></html>")
    article = next(e for e in doc.body.descendants() if e.tag == "article")
    standardize_content(article, "", doc)
    assert "<p>a<p>" not in article.inner_html()


def test_nested_paragraph_divs_stage_semantics():
    """Nested div[role=paragraph]: Rule 1's snapshot iteration leaves
    the reparse-reintroduced inner div unconverted (goquery stale-
    selection parity — the detached old subtree absorbs the second
    ReplaceWithHtml), and the flatten stage then converts it, so the
    composite pipeline yields two clean paragraphs."""
    from defuddle_spark import standardize as S
    from defuddle_spark.dom import parse

    doc = parse('<html><body><article><div role="paragraph">a'
                '<div role="paragraph">b</div></div></article>'
                "</body></html>")
    art = next(e for e in doc.body.descendants() if e.tag == "article")
    S.standardize_elements(art, doc)
    assert art.inner_html() == \
        '<p>a</p><div role="paragraph">b</div><p></p>'
    S.flatten_wrapper_elements(art)
    S.remove_empty_elements(art)
    assert art.inner_html() == "<p>a</p><p>b</p>"


def _footnotes_one_sweep_per_selector(element):
    """content.go:426-450 as the reference runs it: one sweep per
    selector, backrefs first."""
    from defuddle_spark import constants
    from defuddle_spark.selectors import compile_selector

    for s in ('a[href^="#"][class*="anchor"]', 'a[href^="#"][class*="ref"]',
              'a[class*="footnote-backref"]', ".footnote-backref"):
        for el in compile_selector(s).find_all(element):
            el.remove()
    for s in constants.FOOTNOTE_INLINE_REFERENCES:
        for ref in compile_selector(s).find_all(element):
            if ref.tag != "sup":
                ref.retag("sup")


def test_footnote_sweeps_equal_one_sweep_per_selector():
    """standardize_footnotes' two SelectorGroup sweeps leave the tree the
    reference's 25 per-selector sweeps leave, on nested references, a
    retagged hovercard span, and backrefs inside references."""
    import random

    from defuddle_spark.standardize import standardize_footnotes

    pieces = (
        '<span class="footnote_ref">{}</span>', '<a href="#fn1">{}</a>',
        '<span class="footnote-hovercard-target">{}</span>',
        '<span class="footnote-hovercard-target footnote_ref">{}</span>',
        '<sup class="reference">{}</sup>', '<cite class="ltx_cite">{}</cite>',
        '<a class="footnote-backref" href="#r">{}</a>',
        '<a href="#x" class="anchor">{}</a>', '<span id="fnr2">{}</span>',
        '<a role="doc-biblioref" href="/b">{}</a>', "<b>{}</b>", "<p>{}</p>",
    )
    rng = random.Random(20261021)

    def nest(depth):
        if depth == 0 or rng.random() < 0.25:
            return "t"
        return "".join(rng.choice(pieces).format(nest(depth - 1))
                       for _ in range(rng.randint(1, 3)))

    for _ in range(400):
        src = "<html><body><article>" + nest(4) + "</article></body></html>"
        want, _ = _article(src)
        _footnotes_one_sweep_per_selector(want)
        got, _ = _article(src)
        standardize_footnotes(got)
        assert got.outer_html() == want.outer_html(), src
