"""HTML5 tree-construction parity for hostile real-web markup.

The reference parses with Go x/net/html, which implements the full HTML5
tree-construction algorithm (adoption agency for misnested formatting
elements, foster parenting for content misplaced in tables). Expected
strings below are the outputs x/net/html produces for these classic
html5lib-tests cases; byte-identity of extracted content on hostile pages
depends on matching them (reference: defuddle.go:89-108 parse entry).
"""

import pytest

from defuddle_spark.dom import parse


def body_of(src: str) -> str:
    # html5lib-tests expectations assume a standards-mode (no-quirks)
    # document, so pin them under an explicit doctype; quirks-specific
    # divergences are pinned separately in QUIRKS_CASES.
    return parse(
        f"<!DOCTYPE html><html><body>{src}</body></html>").body.inner_html()


ADOPTION_CASES = [
    # misnested <b>/<i>: the trailing run is re-wrapped in a clone
    ("<p>1<b>2<i>3</b>4</i>5</p>", "<p>1<b>2<i>3</i></b><i>4</i>5</p>"),
    ("<b>x<i>y</b>z</i>", "<b>x<i>y</i></b><i>z</i>"),
    # block inside formatting: furthest-block reparenting
    ("<b>1<p>2</b>3</p>", "<b>1</b><p><b>2</b>3</p>"),
    ("<i>1<div>2</i>3</div>", "<i>1</i><div><i>2</i>3</div>"),
    # nested <a> is implicitly closed (in-body <a> rule)
    ("<a>1<a>2</a>", "<a>1</a><a>2</a>"),
    # formatting element reconstruction after a block pop
    ("<p><span>a</p>b", "<p><span>a</span></p>b"),
]


@pytest.mark.parametrize("src,want", ADOPTION_CASES)
def test_adoption_agency(src, want):
    assert body_of(src) == want


FOSTER_CASES = [
    # stray text in table contexts hops out in front of the table
    ("<table>foo<td>x</td></table>",
     "foo<table><tbody><tr><td>x</td></tr></tbody></table>"),
    ("<table><tr>bar<td>x</td></tr></table>",
     "bar<table><tbody><tr><td>x</td></tr></tbody></table>"),
    # fostered text merges with preceding text (x/net/html fosterParent)
    ("<b>1<table>2</table>3</b>", "<b>12<table></table>3</b>"),
    # element start tags are fostered too, and formatting survives the table
    ("<table><b>foo</table>bar", "<b>foo</b><table></table><b>bar</b>"),
    # a new <table> closes the open one unless inside a cell
    ("<div><table><table>0</table></table></div>",
     "<div><table></table>0<table></table></div>"),
    ("<table><td><table>x</table></td></table>",
     "<table><tbody><tr><td>x<table></table></td></tr></tbody></table>"),
    # whitespace-only text stays inside the table
    ("<table> <td>x</td></table>",
     "<table> <tbody><tr><td>x</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", FOSTER_CASES)
def test_foster_parenting(src, want):
    assert body_of(src) == want


def test_reconstruction_is_marker_bounded():
    # formatting open at <td> must not leak past the cell (scope marker)
    out = body_of("<table><tr><td><b>bold</td></tr></table>plain")
    assert out.endswith("</table>plain")
    assert "<b>plain" not in out


def test_well_formed_markup_unchanged():
    # the algorithms must be no-ops on clean pages (golden-fixture safety)
    src = ("<article><h1>T</h1><p>Hello <b>bold</b> and <i>it</i>.</p>"
           "<table><tbody><tr><td>c</td></tr></tbody></table></article>")
    assert body_of(src) == src


def test_extraction_survives_misnesting():
    from defuddle_spark.kernel import extract_document
    body = "Readable paragraph text for the scorer to find. " * 30
    html = (
        "<html><head><title>T</title></head><body>"
        "<nav><a href='/'>Home</a></nav>"
        f"<article><h1>T</h1><b>lead<p>{body}</b>tail</p></article>"
        "</body></html>"
    )
    r = extract_document(html)
    assert "Readable paragraph text" in r.extracted_text
    assert "tail" in r.extracted_text
    assert "Home" not in r.extracted_text


ORPHAN_TABLE_TAG_CASES = [
    # table-structure tags with no open table are ignored (in-body rule)
    ("<b><tr></b>", "<b></b>"),
    ("<td>cell</td>text", "celltext"),
    ("x<tbody>y", "xy"),
    ("<div><th>h</th></div>", "<div>h</div>"),
    # ...but with a table open they work, even from inside a cell
    ("<table><td>a<tr><td>b</td></tr></table>",
     "<table><tbody><tr><td>a</td></tr><tr><td>b</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", ORPHAN_TABLE_TAG_CASES)
def test_orphan_table_structure_tags_ignored(src, want):
    assert body_of(src) == want


LIST_ITEM_BOUNDARY_CASES = [
    # li/dd/dt close a matching open item...
    ("<ul><li>a<li>b</ul>", "<ul><li>a</li><li>b</li></ul>"),
    # ...popping open phrasing along the way (it stays in the tree)...
    ("<li>a<span><li>b", "<li>a<span></span></li><li>b</li>"),
    # ...and div/address do not shield the open item...
    ("<ul><li>a<div><li>b</div></ul>",
     "<ul><li>a<div></div></li><li>b</li></ul>"),
    # ...but any other special element does (spec li/dd/dt loop boundary)
    ("<ul><li>a<section><li>b</section></li></ul>",
     "<ul><li>a<section><li>b</li></section></li></ul>"),
    ("<dl><dt>a<blockquote><dd>b</blockquote></dl>",
     "<dl><dt>a<blockquote><dd>b</dd></blockquote></dt></dl>"),
]


@pytest.mark.parametrize("src,want", LIST_ITEM_BOUNDARY_CASES)
def test_list_item_special_boundaries(src, want):
    assert body_of(src) == want


END_TAG_RULE_CASES = [
    # a heading start tag pops a heading CURRENT node only
    ("<h1>a<h2>b</h2>", "<h1>a</h1><h2>b</h2>"),
    ("<h1>a<b><h2>b", "<h1>a<b><h2>b</h2></b></h1>"),
    # any heading end tag closes any open heading in scope
    ("<h1>x</h3>y", "<h1>x</h1>y"),
    # stray </p> inserts an empty paragraph
    ("<p>x</p></p>y", "<p>x</p><p></p>y"),
    # </br> acts as a <br> start tag
    ("a</br>b", "a<br/>b"),
]


@pytest.mark.parametrize("src,want", END_TAG_RULE_CASES)
def test_in_body_end_tag_rules(src, want):
    assert body_of(src) == want


def test_title_and_textarea_are_rcdata():
    # markup inside <title>/<textarea> is TEXT (entities decoded), not
    # elements; <image> is retagged to <img> in HTML but kept inside SVG
    from defuddle_spark.dom import parse
    d = parse("<html><head><title>A &amp; B <b>t</title></head>"
              "<body><textarea><b>x</b>&amp;</textarea>"
              "<image src='i.png'><svg><image href='v'/></svg></body></html>")
    title = next(e for e in d.head.descendants() if e.tag == "title")
    assert title.text() == "A & B <b>t"
    assert d.body.inner_html() == (
        "<textarea>&lt;b&gt;x&lt;/b&gt;&amp;</textarea>"
        '<img src="i.png"/><svg><image href="v"></image></svg>')


# --- MathML foreign content (round 2; x/net/html parseForeignContent) ---

def _body(html):
    from defuddle_spark.dom import parse
    return parse(html).body.inner_html()


def test_mathml_basic_and_attr_adjust():
    assert _body('<p><math definitionurl="x"><mi>a</mi><mo>+</mo><mn>1</mn></math></p>') == \
        '<p><math definitionURL="x"><mi>a</mi><mo>+</mo><mn>1</mn></math></p>'


def test_mathml_breakout_tags_escape_foreign_content():
    # div is a breakout tag: pops out of math, becomes a sibling
    assert _body('<math><mtable><div>broke out</div></math>') == \
        '<math><mtable></mtable></math><div>broke out</div>'


def test_mathml_text_integration_point_parses_html():
    # mi is a text integration point: <b> inside parses under HTML rules
    assert _body('<math><mi><b>bold</b></mi></math>') == \
        '<math><mi><b>bold</b></mi></math>'


def test_mathml_annotation_xml_html_encoding_is_integration_point():
    assert _body('<math><annotation-xml encoding="text/html"><p>h</p>'
                 '</annotation-xml></math>') == \
        '<math><annotation-xml encoding="text/html"><p>h</p></annotation-xml></math>'


def test_mathml_annotation_xml_svg_special_case():
    # x/net/html inForeignContent: <svg> under annotation-xml takes HTML
    # rules, opening a real svg subtree (case tables apply inside)
    assert _body('<math><annotation-xml><svg><clippath/></svg>'
                 '</annotation-xml></math>') == \
        '<math><annotation-xml><svg><clipPath></clipPath></svg></annotation-xml></math>'


def test_svg_breakout_and_integration_point():
    assert _body('<svg><g><p>escaped</p></svg>') == \
        '<svg><g></g></svg><p>escaped</p>'
    assert _body('<svg><foreignObject><div><b>x</b></div></foreignObject></svg>') == \
        '<svg><foreignObject><div><b>x</b></div></foreignObject></svg>'


def test_math_inside_svg_is_svg_namespaced():
    # foreign insertion inherits the adjusted current namespace: a <math>
    # inside svg is an svg-namespaced element (svg attr tables, not MathML)
    assert _body('<svg><math definitionurl="u"></math></svg>') == \
        '<svg><math definitionurl="u"></math></svg>'


def test_mathml_in_tag_soup_roundtrips():
    # hostile position: math interrupted by table machinery; convergence
    # (reparse stability) must hold
    from defuddle_spark.dom import parse
    soup = '<table><tr><td><math><mi>x</mi><tr><mn>1</mn></table><math><mo>!'
    once = parse(soup).body.inner_html()
    twice = parse(once).body.inner_html()
    thrice = parse(twice).body.inner_html()
    assert twice == thrice


# --- round 3: templates, frameset, more foreign content -------------------
# Cases follow the html5lib-tests tree-construction suites (tests18/tests6/
# webkit01 shapes) as x/net/html serializes them.

def doc_of(src: str) -> str:
    return parse(src).html.inner_html()


TEMPLATE_CASES = [
    # template contents host table-structure tags without a table
    ("<template><tr><td>c</td></tr></template>",
     "<template><tr><td>c</td></tr></template>"),
    # td implies a tr but no tbody (clear-back stops at the template)
    ("<template><td>c</td></template>", "<template><tr><td>c</td></tr></template>"),
    ("<template><col></template>", "<template><col/></template>"),
    # nested templates keep nesting
    ("<template><template><p>n</p></template></template>",
     "<template><template><p>n</p></template></template>"),
    # a template inside a table keeps its contents out of the table flow
    ("<table><template><tr><td>c</td></tr></template></table>",
     "<table><template><tr><td>c</td></tr></template></table>"),
]


@pytest.mark.parametrize("src,want", TEMPLATE_CASES)
def test_template_contents(src, want):
    assert body_of(src) == want


FRAMESET_CASES = [
    # a root frameset replaces the body; frames nest; frame is non-void
    ("<html><frameset><frame src='a'><frameset><frame></frameset></frameset>",
     '<head></head><frameset><frame src="a"></frame>'
     "<frameset><frame></frame></frameset></frameset>"),
    # after-frameset: everything but noframes is ignored
    ("<html><frameset></frameset><p>after</p>",
     "<head></head><frameset></frameset>"),
    ("<html><frameset></frameset><noframes>nf <b>raw</b></noframes>",
     "<head></head><frameset></frameset><noframes>nf <b>raw</b></noframes>"),
    # frameset-ok false once the body has content: frameset ignored
    ("<html><body><p>x</p><frameset><frame></frameset>",
     "<head></head><body><p>x</p></body>"),
    # whitespace doesn't flip frameset-ok
    ("<html><body>  <frameset></frameset>",
     "<head></head><frameset></frameset>"),
]


@pytest.mark.parametrize("src,want", FRAMESET_CASES)
def test_frameset_modes(src, want):
    assert doc_of(src) == want


def test_noframes_is_rawtext():
    assert body_of("<noframes><p>x</p></noframes>") == \
        "<noframes><p>x</p></noframes>"
    d = parse("<html><body><noframes><p>x</p></noframes></body></html>")
    nf = next(e for e in d.body.descendants() if e.tag == "noframes")
    assert not nf.element_children()  # content is TEXT, not elements


def test_cdata_is_text_in_foreign_content_only():
    # x/net/html tokenizer: CDATA sections are text inside svg/math
    assert body_of("<svg><![CDATA[raw <b> text]]></svg>") == \
        "<svg>raw &lt;b&gt; text</svg>"
    assert body_of("<math><mtext><![CDATA[a&b]]></mtext></math>") == \
        "<math><mtext>a&amp;b</mtext></math>"
    # in HTML content it is a bogus comment: dropped by our serializer
    assert body_of("<p><![CDATA[x]]></p>") == "<p></p>"


SELECT_CASES = [
    ("<select><option>a<option>b</select>",
     "<select><option>a</option><option>b</option></select>"),
    # option start does NOT close an open optgroup
    ("<select><optgroup><option>a</optgroup><option>b</select>",
     "<select><optgroup><option>a</option></optgroup>"
     "<option>b</option></select>"),
    # a new optgroup closes option AND optgroup
    ("<select><optgroup><option>a<optgroup><option>b</select>",
     "<select><optgroup><option>a</option></optgroup>"
     "<optgroup><option>b</option></optgroup></select>"),
    # in-select: unknown start tags are ignored, text flows through
    ("<select><div>x</div></select>", "<select>x</select>"),
    # input/keygen/textarea close the select and reprocess
    ("<select><input>after", "<select></select><input/>after"),
    # a nested <select> token acts as </select>
    ("<select><option>a<select>b",
     "<select><option>a</option></select>b"),
    # hr is allowed inside select (spec in-select hr)
    ("<select><hr><option>a</select>",
     "<select><hr/><option>a</option></select>"),
    # table tokens with NO open table are in-select "anything else":
    # ignored, never nested inside the select (ADVICE r3)
    ("<select><table><tr><td>x</td></tr></table></select>",
     "<select>x</select>"),
    ("<select><td>x</select>", "<select>x</select>"),
    ("<select><colgroup><col>x</select>", "<select>x</select>"),
    # with an open table, in-select-in-table pops the select and
    # reprocesses the token (x/net/html inSelectInTableIM)
    ("<table><tr><td><select><caption>",
     "<table><tbody><tr><td><select></select></td></tr></tbody>"
     "<caption></caption></table>"),
    ("<table><tr><td><select>a<tr><td>b",
     "<table><tbody><tr><td><select>a</select></td></tr>"
     "<tr><td>b</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", SELECT_CASES)
def test_in_select_rules(src, want):
    assert body_of(src) == want


CLASSIC_CASES = [
    # nested formatting through adoption + reconstruction
    ("<b><i><u>x</b>y</u>", "<b><i><u>x</u></i></b><i><u>y</u></i>"),
    ("<p><b>1</p><p>2</p>", "<p><b>1</b></p><p><b>2</b></p>"),
    ("<a href=a>1<p>2</a>3</p>",
     '<a href="a">1</a><p><a href="a">2</a>3</p>'),
    # row-group sequencing and implied rows
    ("<table><tbody><tfoot><thead><td>x</table>",
     "<table><tbody></tbody><tfoot></tfoot>"
     "<thead><tr><td>x</td></tr></thead></table>"),
    # nested lists and dt/dd chains
    ("<ul><li><ul><li>n</ul></li></ul>",
     "<ul><li><ul><li>n</li></ul></li></ul>"),
    ("<dl><dt>t<dd>d<dt>t2</dl>", "<dl><dt>t</dt><dd>d</dd><dt>t2</dt></dl>"),
    # a table closes an open p; the stray </p> makes an empty paragraph
    ("<p><table><tr><td>c</td></tr></table></p>",
     "<p></p><table><tbody><tr><td>c</td></tr></tbody></table><p></p>"),
    # marquee is a scope marker; object/param flow
    ("<marquee><p>m</marquee></p>", "<marquee><p>m</p></marquee><p></p>"),
    ("<object><param><p>o</object>", "<object><param/><p>o</p></object>"),
]


@pytest.mark.parametrize("src,want", CLASSIC_CASES)
def test_classic_tree_construction(src, want):
    assert body_of(src) == want


TABLE_MODE_CASES = [
    # a table-structure token while a caption is open ends the caption
    ("<table><caption>c<td>x</table>",
     "<table><caption>c</caption><tbody><tr><td>x</td></tr></tbody></table>"),
    ("<table><caption>a<caption>b</table>",
     "<table><caption>a</caption><caption>b</caption></table>"),
    # col lands inside an open colgroup; a bare col implies one
    ("<table><colgroup><col><tr><td>x</table>",
     "<table><colgroup><col/></colgroup>"
     "<tbody><tr><td>x</td></tr></tbody></table>"),
    ("<table><col><col><tr><td>x</table>",
     "<table><colgroup><col/><col/></colgroup>"
     "<tbody><tr><td>x</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", TABLE_MODE_CASES)
def test_caption_and_colgroup_modes(src, want):
    assert body_of(src) == want


def test_nested_form_ignored():
    # spec form element pointer: second <form> start tag is ignored
    assert body_of("<form><input><form><input></form>") == \
        "<form><input/><input/></form>"
    # ...but a closed form allows a new one
    assert body_of("<form>a</form><form>b</form>") == \
        "<form>a</form><form>b</form>"


def test_nested_button_closes_open_button():
    assert body_of("<button>a<button>b</button>") == \
        "<button>a</button><button>b</button>"


def test_xmp_noembed_iframe_are_rawtext():
    from defuddle_spark.dom import TEXT
    for tag in ("xmp", "noembed", "iframe"):
        d = parse(f"<html><body><{tag}><p>x</p></{tag}></body></html>")
        el = next(e for e in d.body.descendants() if e.tag == tag)
        assert [c.type for c in el.children] == [TEXT], tag
        assert el.text() == "<p>x</p>"


IN_CELL_REPROCESS_CASES = [
    # caption/col/colgroup pop open cells, rows AND row groups
    ("<table><tr><td>a<caption>c</caption></table>",
     "<table><tbody><tr><td>a</td></tr></tbody><caption>c</caption></table>"),
    ("<table><tr><td>a<col></table>",
     "<table><tbody><tr><td>a</td></tr></tbody>"
     "<colgroup><col/></colgroup></table>"),
    # a row-group token pops cells and rows, landing beside the open group
    ("<table><tr><td>a<tbody><tr><td>b</table>",
     "<table><tbody><tr><td>a</td></tr></tbody>"
     "<tbody><tr><td>b</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", IN_CELL_REPROCESS_CASES)
def test_in_cell_table_token_reprocessing(src, want):
    assert body_of(src) == want


STABILITY_PINS = [
    # formatting bounded by cells; AFE across tables; scope markers
    ("<table><tr><td><b>x</td><td>y</td></tr></table>",
     "<table><tbody><tr><td><b>x</b></td><td>y</td></tr></tbody></table>"),
    ("<b><table><td>x</td></table></b>c",
     "<b><table><tbody><tr><td>x</td></tr></tbody></table></b>c"),
    ("<b><applet><i>x</applet>y", "<b><applet><i>x</i></applet>y</b>"),
    ("<nobr>a<nobr>b", "<nobr>a</nobr><nobr>b</nobr>"),
    # select-family elements are ordinary in body
    ("<optgroup><option>a</optgroup>",
     "<optgroup><option>a</option></optgroup>"),
    ("<option>a<option>b", "<option>a</option><option>b</option>"),
    # table structure odds and ends
    ("<table><tbody></table>", "<table><tbody></tbody></table>"),
    ("<table><tr><th>h<td>d</table>",
     "<table><tbody><tr><th>h</th><td>d</td></tr></tbody></table>"),
    ("<dl><dd>d1<dl><dd>d2</dl></dd></dl>",
     "<dl><dd>d1<dl><dd>d2</dd></dl></dd></dl>"),
    ("<ul><li>a<hr>b</li></ul>", "<ul><li>a<hr/>b</li></ul>"),
    ("<ruby>a<rt>b</rt></ruby>", "<ruby>a<rt>b</rt></ruby>"),
]


@pytest.mark.parametrize("src,want", STABILITY_PINS)
def test_stability_pins(src, want):
    assert body_of(src) == want


# --- quirks mode (spec 13.2.6.2; x/net/html parse.go quirks handling) ----
# The one tree-construction effect of quirks mode: <table> does NOT close
# an open <p>, so the table nests inside it. A missing doctype, a
# non-html doctype name, or a legacy public identifier is quirks.
QUIRKS_DOCS = [
    # (full document, expected body inner_html)
    ("<p>1<table><tr><td>x</td></tr></table>",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    ("<!DOCTYPE html><p>1<table><tr><td>x</td></tr></table>",
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
    # html 4.01 transitional WITHOUT a system id: quirks
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">'
     "<p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # the same public id WITH a system id: NO-quirks (limited-quirks,
    # which has no tree effect)
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" '
     '"http://www.w3.org/TR/html4/loose.dtd"><p>1<table><td>x',
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
    # html 3.2: quirky prefix regardless of system id
    ('<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 3.2 Final//EN">'
     "<p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # non-html doctype name: quirks
    ("<!DOCTYPE foo><p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # XHTML 1.0 strict: standards
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" '
     '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">'
     "<p>1<table><td>x",
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
    # the legacy exact-match quirky public id
    ('<!DOCTYPE html PUBLIC "HTML"><p>1<table><td>x',
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # a doctype AFTER content is ignored: still quirks
    ("<p>pre</p><!DOCTYPE html><p>1<table><td>x",
     "<p>pre</p><p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # bogus content AFTER a complete public+system pair is eaten by the
    # bogus-DOCTYPE state WITHOUT force-quirks (13.2.6.2
    # unexpected-character-after-doctype-system-identifier): standards
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" '
     '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd" bogus junk>'
     "<p>1<table><td>x",
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
    # same after a bare SYSTEM identifier: standards
    ('<!DOCTYPE html SYSTEM "about:legacy-compat" trailing>'
     "<p>1<table><td>x",
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
    # but junk after a public-id-only clause (no quote opening a system
    # id) IS missing-quote-before-doctype-system-identifier: force-quirks
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" junk>'
     "<p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # a quirky public PREFIX stays quirky even with trailing junk after
    # its system id
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 3.2 Final//EN" "s" x>'
     "<p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # ADVICE r5: non-quote junk BETWEEN the public and system identifiers
    # is missing-quote-before-doctype-system-identifier -> force-quirks —
    # regex backtracking must not stretch the public id across the junk
    # to the system id's quotes and read it as a long public-id-only form
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN" junk '
     '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">'
     "<p>1<table><td>x",
     "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"),
    # missing whitespace between the identifiers is only a parse error,
    # not quirks (the system id still parses)
    ('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN"'
     '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">'
     "<p>1<table><td>x",
     "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", QUIRKS_DOCS)
def test_quirks_mode_table_in_p(src, want):
    assert parse(src).body.inner_html() == want


def test_fragments_parse_no_quirks():
    # x/net/html ParseFragment with a standards context: table closes p
    from defuddle_spark.dom import parse_fragment
    nodes = parse_fragment("<p>1<table><td>x")
    got = "".join(n.outer_html() for n in nodes if getattr(n, "tag", None))
    assert got == "<p>1</p><table><tbody><tr><td>x</td></tr></tbody></table>"


# --- after-head rules (spec 13.2.6.4.6; x/net/html afterHeadIM) ----------
AFTER_HEAD_DOCS = [
    # metadata start tags after </head> are routed back INTO the head
    ('<head></head><meta name="a"><body>x', '<meta name="a"/>', "x"),
    ("<head></head><script>var x=1</script><title>T</title><p>y",
     "<script>var x=1</script><title>T</title>", "<p>y</p>"),
    ("<head></head><link rel=stylesheet><style>.a{}</style>z",
     '<link rel="stylesheet"/><style>.a{}</style>', "z"),
    # a non-head start tag opens the body; later metadata stays in body
    ("<head></head><div>a</div><meta name=b>",
     "", '<div>a</div><meta name="b"/>'),
    # non-whitespace text opens the body
    ("<head><title>T</title></head>abc<meta name=c>",
     "<title>T</title>", 'abc<meta name="c"/>'),
    # a second <head> start tag is ignored (no duplicate element)
    ("<head><title>T</title></head><head><meta name=d></head><p>x",
     '<title>T</title><meta name="d"/>', "<p>x</p>"),
]


@pytest.mark.parametrize("src,want_head,want_body", AFTER_HEAD_DOCS)
def test_after_head_rules(src, want_head, want_body):
    doc = parse(src)
    assert doc.head.inner_html() == want_head
    assert doc.body.inner_html() == want_body


# --- PLAINTEXT tokenizer state (spec 13.2.5.5; x/net/html rawTag) --------
def test_plaintext_raw_to_eof():
    # everything after <plaintext> is literal text: no elements, no
    # charrefs, not even its own end tag; the serializer (x/net/html
    # render.go raw-text set) emits the content unescaped
    d = parse("<!DOCTYPE html><body>"
              "<plaintext>x<b>n</b></plaintext>tail &amp; more")
    pt = next(e for e in d.body.descendants() if e.tag == "plaintext")
    assert pt.text() == "x<b>n</b></plaintext>tail &amp; more"
    assert d.body.inner_html() == \
        "<plaintext>x<b>n</b></plaintext>tail &amp; more</plaintext>"


def test_plaintext_ignored_in_select_keeps_tokenizing():
    # in-select ignores the start tag, so the tokenizer is NOT switched
    # (the spec switches it only from the in-body insertion rule)
    assert parse("<!DOCTYPE html><body><select><plaintext>x</select>y"
                 ).body.inner_html() == "<select>x</select>y"


def test_plaintext_closes_open_p():
    assert parse("<!DOCTYPE html><p>a<plaintext>b").body.inner_html() == \
        "<p>a</p><plaintext>b</plaintext>"


P_CLOSER_CASES = [
    # spec in-body p-closing start tags added in round 4
    ("<p>a<center>c</center>", "<p>a</p><center>c</center>"),
    ("<p>a<summary>s</summary>", "<p>a</p><summary>s</summary>"),
    ("<p>a<dialog>d</dialog>", "<p>a</p><dialog>d</dialog>"),
    ("<p>a<listing>l</listing>", "<p>a</p><listing>l</listing>"),
    ("<p>a<dir><li>x</li></dir>", "<p>a</p><dir><li>x</li></dir>"),
    ("<p>a<xmp><i>raw</xmp>", "<p>a</p><xmp><i>raw</xmp>"),
]


@pytest.mark.parametrize("src,want", P_CLOSER_CASES)
def test_p_closing_start_tags(src, want):
    assert body_of(src) == want


# --- round-4 breadth: attr merging, table sections, formatting ----------
def test_body_and_html_attr_merge():
    # spec: a second <body>/<html> start tag merges only MISSING attrs
    d = parse("<!DOCTYPE html><html lang=en><body bgcolor=red><p>x</p>"
              "<body onload=a bgcolor=blue></html><html lang=fr dir=rtl>")
    assert d.body.get("bgcolor") == "red"   # first value wins
    assert d.body.get("onload") == "a"      # new attr merged in
    assert d.html.get("lang") == "en"
    assert d.html.get("dir") == "rtl"


MISC_CASES = [
    # table section elements sequence freely after a tbody
    ("<table><tbody><tr><td>a</td></tr><tfoot><tr><td>f</td></tr></tfoot>"
     "<thead>",
     "<table><tbody><tr><td>a</td></tr></tbody><tfoot><tr><td>f</td></tr>"
     "</tfoot><thead></thead></table>"),
    # script inside a table goes to the current table context, not foster
    ("<table><tr><td>x</td></tr><script>s()</script></table>",
     "<table><tbody><tr><td>x</td></tr><script>s()</script></tbody>"
     "</table>"),
    # nobr is a formatting element: a second one closes the first
    ("<nobr>a<nobr>b", "<nobr>a</nobr><nobr>b</nobr>"),
    # dt/dd close each other
    ("<dl><dt>t<dd>d<dt>t2", "<dl><dt>t</dt><dd>d</dd><dt>t2</dt></dl>"),
    # ruby/rt
    ("<ruby>a<rt>b</rt></ruby>", "<ruby>a<rt>b</rt></ruby>"),
    # the classic a-in-table fostering case (html5lib tests1.dat):
    # the fostered <a href=2> closes the outer <a>, survives the table,
    # and is reconstructed after it
    ("<a href=1>a<table><a href=2>b</table>c",
     '<a href="1">a<a href="2">b</a><table></table></a><a href="2">c</a>'),
]


@pytest.mark.parametrize("src,want", MISC_CASES)
def test_round4_breadth_cases(src, want):
    assert body_of(src) == want


def test_noscript_is_rawtext_like_the_reference():
    """goquery→html.Parse runs with scripting=true (the default), so
    <noscript> takes the generic-raw-text path everywhere: its content
    is ONE text node (serialized raw), and markup inside it can never
    escape into the body."""
    d = parse("<!DOCTYPE html><head><noscript><link href=a><div>x</div>"
              "</noscript></head><body>y")
    ns = next(e for e in d.head.descendants() if e.tag == "noscript")
    assert ns.text() == "<link href=a><div>x</div>"
    assert d.body.inner_html() == "y"
    # extraction parity: the noscript EXACT selector removes the whole
    # element, fallback markup included
    from defuddle_spark.kernel import extract_document
    r = extract_document(
        "<html><head><title>T</title></head><body><article><h1>T</h1>"
        "<p>real words here</p><noscript><p>fallback words</p></noscript>"
        "</article></body></html>")
    assert r.extracted_text == "real words here"


def test_nbsp_is_not_spec_whitespace_in_tables():
    # spec "ASCII whitespace" only: an \xa0 (&nbsp;) spacer in table
    # context is NON-whitespace text and foster-parents out, while real
    # ASCII spaces stay inside the table
    assert parse("<!DOCTYPE html><table>\xa0<td>b</td></table>") \
        .body.inner_html() == \
        "\xa0<table><tbody><tr><td>b</td></tr></tbody></table>"
    assert parse("<!DOCTYPE html><table>  <td>b</td></table>") \
        .body.inner_html() == \
        "<table>  <tbody><tr><td>b</td></tr></tbody></table>"


IN_TABLE_FORM_CASES = [
    # <form> in table context: inserted and popped immediately (pointer
    # set — the second form is ignored); hidden inputs stay IN the table
    ("<table><form><input type=hidden name=a></form><tr><td>x",
     '<table><form></form><input type="hidden" name="a"/>'
     "<tbody><tr><td>x</td></tr></tbody></table>"),
    ("<table><input type=hidden name=a><tr><td>x",
     '<table><input type="hidden" name="a"/>'
     "<tbody><tr><td>x</td></tr></tbody></table>"),
    # non-hidden inputs foster-parent like any other content
    ("<table><input type=text name=b><tr><td>x",
     '<input type="text" name="b"/>'
     "<table><tbody><tr><td>x</td></tr></tbody></table>"),
    ("<table><form a=1><form b=2><tr><td>x",
     '<table><form a="1"></form>'
     "<tbody><tr><td>x</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", IN_TABLE_FORM_CASES)
def test_in_table_form_and_hidden_input(src, want):
    assert body_of(src) == want


def test_eof_inside_rawtext_keeps_the_tail():
    # spec RAWTEXT/RCDATA EOF: emit the characters read so far — a
    # truncated crawl page ending inside a text-only element keeps its
    # tail (x/net/html behavior; html.parser would drop it)
    assert parse("<!DOCTYPE html><body><textarea>tail here") \
        .body.inner_html() == "<textarea>tail here</textarea>"
    assert parse("<!DOCTYPE html><head><title>partial") \
        .head.inner_html() == "<title>partial</title>"
    assert parse("<!DOCTYPE html><body><style>.a{color:red") \
        .body.inner_html() == "<style>.a{color:red</style>"
    # RCDATA entity decoding still applies to the tail
    d = parse("<!DOCTYPE html><body><textarea>a &amp; b")
    ta = next(e for e in d.body.descendants() if e.tag == "textarea")
    assert ta.text() == "a & b"


MORE_TABLE_CASES = [
    # li closes work inside <menu> like ul/ol
    ("<menu><li>a<li>b</menu>", "<menu><li>a</li><li>b</li></menu>"),
    # a <table> START tag in-caption is "anything else" -> in-body ->
    # a genuinely NESTED table inside the caption (x/net/html parity)
    ("<table><caption>c<table><tr><td>x",
     "<table><caption>c<table><tbody><tr><td>x</td></tr></tbody></table>"
     "</caption></table>"),
    # ...but a row token ends the caption and reprocesses in-table
    ("<table><caption>c</caption><tr><td>x",
     "<table><caption>c</caption><tbody><tr><td>x</td></tr></tbody>"
     "</table>"),
    ("<table><colgroup><col width=10><td>x",
     '<table><colgroup><col width="10"/></colgroup>'
     "<tbody><tr><td>x</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", MORE_TABLE_CASES)
def test_more_table_edges(src, want):
    assert body_of(src) == want


def test_foreign_plaintext_does_not_switch_tokenizer():
    # the PLAINTEXT switch is an in-body HTML rule; an SVG <plaintext>
    # foreign element must not swallow the rest of the document
    d = parse("<!DOCTYPE html><body><svg><plaintext>x</plaintext></svg>"
              "<p>words</p>")
    assert d.body.inner_html() == \
        "<svg><plaintext>x</plaintext></svg><p>words</p>"


def test_late_doctype_after_end_tag_is_ignored():
    # an end tag leaves the initial mode, so a doctype after it cannot
    # flip the document out of quirks (table stays nested in the p)
    assert parse("</div><!DOCTYPE html><p>1<table><td>x") \
        .body.inner_html() == \
        "<p>1<table><tbody><tr><td>x</td></tr></tbody></table></p>"


CLASSIC_ADOPTION_CASES = [
    # tests1.dat classics (x/net/html outputs)
    ("<b><p></b>TEST", "<b></b><p><b></b>TEST</p>"),
    ("<font><p>hello<b>cruel</font>world",
     "<font></font><p><font>hello<b>cruel</b></font><b>world</b></p>"),
    ("<h1><h2>x", "<h1></h1><h2>x</h2>"),
    ("<a><p>X<a>Y</a>Z</p></a>", "<a></a><p><a>X</a><a>Y</a>Z</p>"),
    # button is a scope marker: the outer <b> reconstructs inside it
    ("<b><button>foo</b>bar", "<b></b><button><b>foo</b>bar</button>"),
    ("<p><b>foo</p>bar", "<p><b>foo</b></p><b>bar</b>"),
    ("<b>a<i>b<p>c</i>d", "<b>a<i>b</i><p><i>c</i>d</p></b>"),
    # formatting + paragraph fostered out of a table together
    ("<table><a>1<p>2</a>3</p>",
     "<a>1</a><p><a>2</a>3</p><table></table>"),
]


@pytest.mark.parametrize("src,want", CLASSIC_ADOPTION_CASES)
def test_classic_adoption_cases(src, want):
    assert body_of(src) == want


def test_template_in_head_hosts_its_content():
    # template contents stay inside the template — non-head elements in
    # a HEAD template must not imply <body> and leak out of it; body/
    # html/frameset tokens inside a template are ignored
    d = parse("<!DOCTYPE html><head><template><p>t</p><div>d</div>"
              "</template></head><body>x")
    assert d.head.inner_html() == \
        "<template><p>t</p><div>d</div></template>"
    assert d.body.inner_html() == "x"
    d2 = parse("<!DOCTYPE html><head><template>a<body>b</body>"
               "</template></head>y")
    assert d2.head.inner_html() == "<template>ab</template>"
    assert d2.body.inner_html() == "y"


MISC_BODY_CASES = [
    # in-body <option>: a new option closes an open one (outside select)
    ("<option>a<option>b", "<option>a</option><option>b</option>"),
    ("<optgroup>a<option>b</optgroup>c",
     "<optgroup>a<option>b</option></optgroup>c"),
    ("<details><summary>s</summary>body</details>",
     "<details><summary>s</summary>body</details>"),
    ("<figure><figcaption>c</figcaption><img src=i></figure>",
     '<figure><figcaption>c</figcaption><img src="i"/></figure>'),
]


@pytest.mark.parametrize("src,want", MISC_BODY_CASES)
def test_misc_in_body_cases(src, want):
    assert body_of(src) == want


# --- ruby annotations (spec in-body rb/rtc/rp/rt; x/net/html inBodyIM) ---
RUBY_CASES = [
    # rt closes an open rt (generate implied end tags)
    ("<ruby>base<rt>a<rt>b</ruby>x",
     "<ruby>base<rt>a</rt><rt>b</rt></ruby>x"),
    # rb closes rb
    ("<ruby><rb>x<rb>y</ruby>", "<ruby><rb>x</rb><rb>y</rb></ruby>"),
    # rt inside rtc: rtc is EXCEPTED from the implied-end run
    ("<ruby><rtc><rt>a<rt>b</rtc></ruby>",
     "<ruby><rtc><rt>a</rt><rt>b</rt></rtc></ruby>"),
    # rb after rtc: full implied-end run closes rt AND rtc
    ("<ruby><rb>a<rtc><rt>x<rb>c</ruby>",
     "<ruby><rb>a</rb><rtc><rt>x</rt></rtc><rb>c</rb></ruby>"),
    # classic rp/rt pattern
    ("<ruby>K<rp>(<rt>kana<rp>)</ruby>",
     "<ruby>K<rp>(</rp><rt>kana</rt><rp>)</rp></ruby>"),
    # rtc closes a sibling rtc
    ("<ruby><rtc>a<rtc>b</ruby>", "<ruby><rtc>a</rtc><rtc>b</rtc></ruby>"),
    # NO ruby in scope: rt behaves like any other unknown element
    ("<div><rt>a<rt>b</div>", "<div><rt>a<rt>b</rt></rt></div>"),
    # ruby boundary: an <applet> is a default-scope stop, so an rt
    # inside it does not see the outer ruby
    ("<ruby><rt>a<applet><rt>x<rt>y</applet></ruby>",
     "<ruby><rt>a<applet><rt>x<rt>y</rt></rt></applet></rt></ruby>"),
]


@pytest.mark.parametrize("src,want", RUBY_CASES)
def test_ruby_implied_end_tags(src, want):
    assert body_of(src) == want


# --- applet/marquee/object scoping (AFE markers + scope boundaries) ------
APPLET_CASES = [
    # an OPEN formatting element wraps the applet (reconstruction no-op)
    ("<b>x<applet>y</applet>z", "<b>x<applet>y</applet>z</b>"),
    # formatting opened INSIDE applet/marquee/object dies with it: the
    # AFE marker prevents reconstruction after the container closes
    ("<applet><b>x</applet>y", "<applet><b>x</b></applet>y"),
    ("<marquee><i>m</marquee>n", "<marquee><i>m</i></marquee>n"),
    ("<object><b>o</object>p", "<object><b>o</b></object>p"),
    # button scope: <p> inside an applet does not close the outer <p>
    ("<p>a<applet><p>b</applet>c", "<p>a<applet><p>b</p></applet>c</p>"),
    # ... nor does a <table> inside a <button> (no-quirks table rule)
    ("<p>a<button><table><td>x",
     "<p>a<button><table><tbody><tr><td>x</td></tr></tbody></table>"
     "</button></p>"),
    # </p> inside an applet with the only open p outside: empty-p insert
    ("<p>a<applet></p>b</applet>", "<p>a<applet><p></p>b</applet></p>"),
]


@pytest.mark.parametrize("src,want", APPLET_CASES)
def test_applet_marquee_object_scoping(src, want):
    assert body_of(src) == want


# --- attribute-mode character references (spec 13.2.5.73) ----------------
def test_attribute_charrefs_historical_rule():
    """A named reference without its `;` followed by `=`/alphanumeric
    stays LITERAL in attribute values (the spec's historical rule, which
    x/net/html implements and html.unescape does not) — query strings
    like `&not=c`/`&copy=1` survive; text content keeps text-mode rules."""
    doc = parse('<!DOCTYPE html><p><a href="?a=b&not=c&copy=1">x&not;y</a>'
                "t&notit;</p>")
    a = next(d for d in doc.body.descendants() if d.tag == "a")
    assert a.get("href") == "?a=b&not=c&copy=1"
    assert a.text() == "x¬y"          # text: &not; decodes
    assert doc.body.text().endswith("t¬it;")  # text legacy &not prefix
    # semicolon-terminated and numeric refs decode in attributes as ever
    doc2 = parse('<!DOCTYPE html><a href="?x=1&amp;y=&#65;&gt" title="a&copy">z</a>')
    a2 = next(d for d in doc2.body.descendants() if d.tag == "a")
    assert a2.get("href") == "?x=1&y=A>"
    assert a2.get("title") == "a©"    # trailing legacy ref decodes


# --- foreign-content scope boundaries (spec 13.2.4.2 namespaced stops) ---
FOREIGN_SCOPE_CASES = [
    # a div at an SVG HTML integration point must NOT close the outer <p>
    ("<p>a<svg><foreignObject><div>x</div></foreignObject></svg>b",
     "<p>a<svg><foreignObject><div>x</div></foreignObject></svg>b</p>"),
    # MathML text integration point likewise
    ("<p>a<math><mtext><div>x</div></mtext></math>b",
     "<p>a<math><mtext><div>x</div></mtext></math>b</p>"),
    # </p> inside foreignObject with the only open p outside: empty-p
    ("<p>a<svg><foreignObject></p>x</foreignObject></svg>",
     "<p>a<svg><foreignObject><p></p>x</foreignObject></svg></p>"),
    # a heading end tag does not reach through the integration point
    ("<h1>a<svg><foreignObject></h1>t</foreignObject></svg>",
     "<h1>a<svg><foreignObject>t</foreignObject></svg></h1>"),
    # ruby-in-scope is blocked by the SVG boundary: inner rt nests
    ("<ruby><rt>a<svg><foreignObject><rt>x<rt>y</foreignObject></svg></ruby>",
     "<ruby><rt>a<svg><foreignObject><rt>x<rt>y</rt></rt></foreignObject>"
     "</svg></rt></ruby>"),
    # the SVG <title> boundary is namespace-qualified; an svg desc stops
    # scope while table inside it still closes a LOCAL p normally
    ("<p>o<svg><desc><p>i<table><td>x</desc></svg>",
     "<p>o<svg><desc><p>i</p><table><tbody><tr><td>x</td></tr></tbody>"
     "</table></desc></svg></p>"),
]


@pytest.mark.parametrize("src,want", FOREIGN_SCOPE_CASES)
def test_foreign_content_scope_boundaries(src, want):
    assert body_of(src) == want


# --- after-body / after-after-body comments (13.2.6.4.19/.22) ------------
def test_after_body_comment_placement():
    """Comments after </body> become the LAST CHILD OF <html>; after
    </html> they attach to the Document — not the body (x/net/html
    afterBodyIM / afterAfterBodyIM); any start tag / non-ws text / other
    end tag reprocesses in body and later comments go back inside."""
    from defuddle_spark.dom import COMMENT, parse

    d = parse("<!DOCTYPE html><html><body><b>x</b></body><!--c--></html>")
    assert [c.data for c in d.html.children if c.type == COMMENT] == ["c"]
    assert d.body.inner_html() == "<b>x</b>"

    d2 = parse("<!DOCTYPE html><html><body>x</body></html><!--tail-->")
    assert [c.data for c in d2.root.children if c.type == COMMENT] == ["tail"]

    # non-ws text after </html> reopens the body; the NEXT comment is
    # back in body (in-body mode)
    d3 = parse("<p>x</p></body></html>tail<!--back-->")
    assert d3.body.inner_html() == "<p>x</p>tail<!--back-->"
    assert not [c for c in d3.root.children if c.type == COMMENT]

    # a start tag reopens too
    d4 = parse("<body><p>a</p></body><div>b</div><!--in-->")
    assert d4.body.inner_html() == "<p>a</p><div>b</div><!--in-->"

    # after-head </body> implies the body first (afterHeadIM), so the
    # comment targets <html>, not the still-open head
    d5 = parse("<head><title>t</title></head></body><!--h-->")
    assert [c.data for c in d5.html.children if c.type == COMMENT] == ["h"]


def test_in_table_pending_character_flush():
    """In-table text: whitespace-only runs stay inside the table;
    any non-ws in the pending run fosters the WHOLE run (spaces
    included) before the table."""
    assert body_of("<table>a b<td>x</td></table>") == \
        "a b<table><tbody><tr><td>x</td></tr></tbody></table>"
    assert body_of("<table> \t\n<tr><td>x</td></tr></table>") == \
        "<table> \t\n<tbody><tr><td>x</td></tr></tbody></table>"
    assert body_of("<table><tr> a <td>x</td></tr></table>") == \
        " a <table><tbody><tr><td>x</td></tr></tbody></table>"


def test_foreign_font_breakout_depends_on_attrs():
    """<font> is a foreign-content breakout tag ONLY with a
    color/face/size attribute (spec 13.2.6.5; x/net/html breakout)."""
    assert body_of('<svg><font color="red">a</font></svg>') == \
        '<svg></svg><font color="red">a</font>'
    assert body_of('<svg><font weight="b">a</font></svg>') == \
        '<svg><font weight="b">a</font></svg>'


def test_stray_body_end_tags_ignored_out_of_scope():
    """</body>/</html> are IGNORED when no body is in scope — inside an
    open template, a table cell, caption, or foreign content — so they
    neither leak template content into the body nor misroute the
    following comments (in-template/in-table ignore rules + the in-body
    body-in-scope requirement)."""
    from defuddle_spark.dom import COMMENT, parse

    # head-level template: content stays inside, body stays empty
    d = parse("<head><template></body><b>x</b></template></head>")
    tpl = next(e for e in d.head.descendants() if e.tag == "template")
    assert tpl.inner_html() == "<b>x</b>"
    assert d.body.inner_html() == ""
    # body-level template: the comment lands in template content
    d3 = parse("<div><template></body><!--c-->z</template></div>")
    tpl3 = next(e for e in d3.body.descendants() if e.tag == "template")
    assert tpl3.inner_html() == "<!--c-->z"
    assert not [c for c in d3.html.children if c.type == COMMENT]
    # table cell: the comment stays in the cell, the row continues
    d4 = parse("<table><tr><td>x</body><!--c--><td>y")
    assert d4.body.inner_html() == ("<table><tbody><tr><td>x<!--c--></td>"
                                    "<td>y</td></tr></tbody></table>")


def test_after_body_mode_transitions():
    """after-body edge transitions (13.2.6.4.19/.22): </head> is
    'anything else' (back to in-body); an <html> START tag stays in
    after-body; </body> from after-after-body returns to after-body."""
    from defuddle_spark.dom import COMMENT, parse

    d5 = parse("<p>x</body></head><!--c-->")
    assert d5.body.inner_html() == "<p>x<!--c--></p>"
    d6 = parse("<body>x</body><html><!--c-->")
    assert [c.data for c in d6.html.children if c.type == COMMENT] == ["c"]
    d7 = parse("<body>x</body></html></body><!--c-->")
    assert [c.data for c in d7.html.children if c.type == COMMENT] == ["c"]
    assert not [c for c in d7.root.children if c.type == COMMENT]


def test_list_item_loops_respect_foreign_boundaries():
    """li/dd/dt closers stop at the foreign special-category elements
    (SVG foreignObject/desc/title, MathML text IPs) instead of closing
    an outer item through the foreign subtree."""
    assert body_of("<ul><li>a<svg><foreignObject><li>x</foreignObject>"
                   "</svg>b</ul>") == \
        "<ul><li>a<svg><foreignObject><li>x</li></foreignObject></svg>b</li></ul>"
    assert body_of("<dl><dt>a<svg><foreignObject><dd>x</foreignObject>"
                   "</svg></dl>") == \
        "<dl><dt>a<svg><foreignObject><dd>x</dd></foreignObject></svg></dt></dl>"


# --- form element pointer (spec in-body form / </form>; round 6) --------
# x/net/html inBodyIM Form + its </form> splice semantics.
FORM_POINTER_CASES = [
    # </form> REMOVES the form from the stack WITHOUT popping later
    # elements: the div stays open (inside the form) and catches 'after'
    ("<form><div></form>after</div>tail",
     "<form><div>after</div></form>tail"),
    ("<div><form><div></form>z",
     "<div><form><div>z</div></form></div>"),
    # </form> with the form OUT OF SCOPE (td boundary) is ignored
    ("<form><table><tr><td></form>w",
     "<form><table><tbody><tr><td>w</td></tr></tbody></table></form>"),
    # implied end tags run first: the p closes, current==form, clean close
    ("<form><p>x</form>y</p>", "<form><p>x</p></form>y<p></p>"),
    # a button is NOT implied-closable: splice keeps it open
    ("<form><button></form>x", "<form><button>x</button></form>"),
    # the POINTER (not stack membership) blocks a second form — a
    # table-inserted form is popped immediately yet still blocks
    ("<table><form></table><form>x", "<table><form></form></table>x"),
    # in-table form after </form> cleared the pointer: inserted + popped
    ("<form></form><table><form><tr><td>x</td></tr></table>",
     "<form></form><table><form></form>"
     "<tbody><tr><td>x</td></tr></tbody></table>"),
    # inside a template the pointer is untouched: both forms materialize
    ("<template><form>a</form><form>b</form></template>",
     "<template><form>a</form><form>b</form></template>"),
    # in-table hidden input stays in the table (no fostering)
    ("<table><form><input type=hidden></table>",
     '<table><form></form><input type="hidden"/></table>'),
    # a FOREIGN <svg:template> is not "a template on the stack": the
    # pointer still arms inside the foreignObject (HTML rules), so the
    # second <form> is ignored
    ("<svg><template><foreignObject><form>a<form>b</form>"
     "</foreignObject></template></svg>",
     "<svg><template><foreignObject><form>ab</form>"
     "</foreignObject></template></svg>"),
    # ... and </form> splices via the pointer there too (div stays open)
    ("<svg><foreignObject><form><div>x</form>y</foreignObject></svg>",
     "<svg><foreignObject><form><div>xy</div></form></foreignObject></svg>"),
]


@pytest.mark.parametrize("src,want", FORM_POINTER_CASES)
def test_form_element_pointer(src, want):
    assert body_of(src) == want


# --- select in table context (in-select-in-table; round 6) --------------
# x/net/html: inTableIM has no select case, so <select> is "anything
# else" — inserted via inBodyIM WITH foster parenting; table-structure
# tokens then pop the select and reprocess (inSelectInTableIM).
SELECT_IN_TABLE_CASES = [
    ("<table><select><option>1</option><tr><td>c</td></table>",
     "<select><option>1</option></select>"
     "<table><tbody><tr><td>c</td></tr></tbody></table>"),
    ("<table><select><td>c</td></table>",
     "<select></select><table><tbody><tr><td>c</td></tr></tbody></table>"),
    # select opened inside a CELL is not fostered; a <tr> still pops it
    ("<table><tr><td><select><option>1<tr>",
     "<table><tbody><tr><td><select><option>1</option></select></td></tr>"
     "<tr></tr></tbody></table>"),
    # plain in-select (no open table): table tokens are IGNORED
    ("<select><option>a<table><tr>", "<select><option>a</option></select>"),
    # nested <table> start pops the fostered select, closes the open
    # table, and opens a sibling
    ("<table><select><option>1<table><tr><td>z</td></tr></table>",
     "<select><option>1</option></select><table></table>"
     "<table><tbody><tr><td>z</td></tr></tbody></table>"),
]


@pytest.mark.parametrize("src,want", SELECT_IN_TABLE_CASES)
def test_select_in_table(src, want):
    assert body_of(src) == want


# --- RCDATA character-reference edges (title/textarea; round 6) ---------
def test_rcdata_charref_edges():
    """RCDATA text uses TEXT-mode charref rules (legacy no-semicolon names
    resolve even before `=`/alnum — the attribute-mode exception does NOT
    apply), and non-matching end tags stay literal."""
    d = parse("<!DOCTYPE html><title>a &amp; b &notit; &copy</title>"
              "<body>x</body>")
    title = next(e for e in d.head.element_children() if e.tag == "title")
    assert title.text() == "a & b ¬it; ©"
    assert body_of("<textarea>&lt;b&gt; &amp;&amp &notin; &copy=1"
                   "</textarea>") == \
        "<textarea>&lt;b&gt; &amp;&amp; ∉ ©=1</textarea>"
    # a non-textarea end tag inside RCDATA is literal text
    assert body_of("<textarea></p>&amp;</textarea>") == \
        "<textarea>&lt;/p&gt;&amp;</textarea>"
    d2 = parse("<!DOCTYPE html><title>&lt;/title&gt;</title><body>t</body>")
    t2 = next(e for e in d2.head.element_children() if e.tag == "title")
    assert t2.text() == "</title>"


# --- the fast paths build the rule chain's tree ---------------------------
class _EveryTag:
    """A tag set holding every tag: no tag takes a fast path."""

    def __contains__(self, tag):
        return True


_SOUP_TAGS = (
    "div", "p", "span", "a", "b", "i", "em", "font", "table", "tr", "td",
    "th", "tbody", "caption", "col", "li", "ul", "ol", "dd", "dt", "select",
    "option", "optgroup", "template", "svg", "math", "foreignObject", "mi",
    "desc", "h1", "h2", "form", "button", "input", "img", "br", "hr", "nobr",
    "ruby", "rt", "head", "body", "html", "title", "script", "style",
    "textarea", "pre", "frameset", "frame", "noscript", "plaintext",
    "section", "article", "code", "image", "applet", "object", "meta",
    "link", "main", "DIV", "Span",
)
_SOUP_ATTRS = ("", "", " class=x", ' id="a"', " type=hidden", " color=red",
               ' encoding="text/html"', " a b", " x=1 X=2")


def _soup(rng):
    parts = []
    for _ in range(rng.randint(1, 30)):
        r = rng.random()
        tag = rng.choice(_SOUP_TAGS)
        if r < 0.45:
            parts.append("<" + tag + rng.choice(_SOUP_ATTRS)
                         + rng.choice((">", ">", "/>")))
        elif r < 0.75:
            parts.append("</" + tag + ">")
        elif r < 0.9:
            parts.append(rng.choice(("x", " ", "\n", "t&amp;", "\xa0")))
        else:
            parts.append(rng.choice(("<!doctype html>", "<!-- c -->", "<p >",
                                     "<br />", "<a/b>")))
    return "".join(parts)


def test_tag_fast_paths_build_the_rule_chain_tree(monkeypatch):
    """_TreeBuilder.handle_starttag's and handle_endtag's fast paths are
    shortcuts through the in-body rules, not rules of their own: with
    them switched off, documents and fragments of seeded tag soup parse
    to the same trees."""
    import random

    from defuddle_spark import dom

    rng = random.Random(20261021)
    cases = [_soup(rng) for _ in range(3000)]

    def trees():
        out = []
        for src in cases:
            out.append(dom.parse(src).root.outer_html())
            out.append("".join(n.outer_html() if n.type == dom.ELEMENT
                               else getattr(n, "data", "")
                               for n in dom.parse_fragment(src)))
        return out

    fast = trees()
    monkeypatch.setattr(dom, "_START_RULES", _EveryTag())
    monkeypatch.setattr(dom, "_END_RULES", _EveryTag())
    assert trees() == fast
