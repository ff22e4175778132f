"""Event-level parity: the fast tokenizer vs stdlib html.parser.

dom._fast_tokenize re-implements HTMLParser.feed()+close() as one
position-based pass (no incremental-feed bookkeeping). Golden-output
safety rests on EVENT-IDENTITY with the stdlib path, pinned here over
hand-picked tokenizer edge cases and seeded fuzz. (The full 120k-trial
sweep that validated the port lives in git history; this keeps a
representative 10k under CI time.)
"""

import random

from html.parser import HTMLParser

from defuddle_spark.dom import _fast_tokenize


from defuddle_spark.dom import _TreeBuilder as _TB


class Rec(HTMLParser):
    # mirror the tree builder's raw-content set so the stdlib comparison
    # parser tokenizes noframes/xmp/noembed/iframe identically
    CDATA_CONTENT_ELEMENTS = _TB.CDATA_CONTENT_ELEMENTS
    _RCDATA_ELEMENTS = ("title", "textarea")

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.ev = []

    def handle_starttag(self, t, a):
        self.ev.append(("st", t, tuple(a)))

    def handle_startendtag(self, t, a):
        self.ev.append(("se", t, tuple(a)))

    def handle_endtag(self, t):
        self.ev.append(("et", t))

    def handle_data(self, d):
        # adjacent data merged: buffering differences are not semantic
        if self.ev and self.ev[-1][0] == "d":
            self.ev[-1] = ("d", self.ev[-1][1] + d)
        else:
            self.ev.append(("d", d))

    def handle_comment(self, d):
        self.ev.append(("c", d))

    def handle_decl(self, d):
        self.ev.append(("decl", d))

    def handle_pi(self, d):
        self.ev.append(("pi", d))

    def unknown_decl(self, d):
        self.ev.append(("ud", d))


def stdlib_events(s):
    r = Rec()
    try:
        r.feed(s)
        r.close()
    except Exception:
        r.ev.append(("ERR",))
    return r.ev


def fast_events(s):
    r = Rec()
    try:
        _fast_tokenize(r, s)
    except Exception:
        r.ev.append(("ERR",))
    return r.ev


HAND_CASES = [
    "", "x", "<", "a<", "<b>", "</b>", "<b", "</b", "<b x", "<b x=",
    "<b x='1'", "<b x='a&amp;b' y=\"2\" z=3 w>", "<b x=1/>", "<b/>",
    "<b / >", "<b //>", "a&amp;b", "a&ampb", "a&amp", "a&", "a&#65;b",
    "a&#x41;b", "a&#65b", "a&#xZZ;", "a&notit;b", "a&not;b", "&curren;",
    "text&fake;more", "<!-- c -->", "<!--c", "<!-- -- >", "<!-->",
    "<!--->", "<!---->", "<!doctype html>", "<!DOCTYPE html PUBLIC 'x'>",
    "<!doctype", "<!x>", "<!x", "<?pi data?>", "<?pi", "<![CDATA[xx]]>",
    "<![CDATA[xx", "<![unknown[x]]>", "<![if ie]>x<![endif]>", "</>",
    "</ >", "</ b>", "</b attr='x'>", "</b attr='>'>", "</123>", "</!>",
    "<script>a<b</script>", "<script>var x = '</scr'+'ipt>';</script>",
    "<script>unclosed", "<style>p{}</style >", "<SCRIPT>X</SCRIPT>",
    "<title>a<b>c</title>", "<textarea>&amp;<x></textarea>",
    "<title>&amp;</title>", "<b x='unterminated", "<b x=\"a'b\">",
    "<b 'x'>", "<b =1>", "<b x==2>", "<b x = 1 >", "<div\nclass='a\nb'>",
    "<b\tx>", "tag <strong>soup", "<b x='&#39;'>", "<b x=&amp;>", "< b>",
    "<3>", "a < b > c", "<p>x</p junk>", "<p></p x='>'>",
]


def test_hand_cases_event_identical():
    for case in HAND_CASES:
        assert fast_events(case) == stdlib_events(case), repr(case)


# Start tags the one-match well-formed path (dom._STARTTAG_WELLFORMED)
# takes, and ones it leaves to the tolerant path. Either way the events
# must be html.parser's.
WELLFORMED_TAKES = [
    # uppercase names, and whitespace before the ">"
    "<DIV>", "<P CLASS=X>x", "<Br>", "<p >", "<p\t\n>", "<lite-YouTube>",
    # a name runs to ASCII whitespace, "/" or ">", as html.parser's does
    "<a\xa0b=1>", "<a\x0b>",
    # self-closing forms
    "<br/>", "<br />", "<img src=a/>", "<img src='a'/>", '<a b="c" />',
    # valueless and duplicate attributes
    "<input disabled>", "<a x x=1 X=2>", "<a b c d>", "<a hidden/>",
    '<a b="" c=\'\'>',
    # unquoted values with character references
    "<a href=?a=1&amp;b=2>", "<a href=x&copy=1>", "<a title=&lt;b&gt;>",
    "<a href=/p?x=1&not=2>", "<a v=&#65;&#x42;>", "<a b=c\"d>", "<a b=`c`>",
    "<a b=c=d>", "<a b=<c>",
    # newlines and tabs between attributes
    '<div\nid=a\n\tclass="b c"\r\n>', "<a\fb=1\rc=2>",
    # a "<" or ">" inside a quoted value
    "<a title='1 > 0'>x", '<a title="<b>">x', "<a title='a<b' x=1>",
    '<a title="x\ny">',
]
WELLFORMED_DECLINES = [
    "<a/b>", "<a b/c>", "<b / >", "<b //>", "<a b='c'd>", "<a b = c>",
    "<a b==c>", "<a b=>", "<a =b>", "<a b=\"c>", "<a\x00>", "<a b\xa0>",
    "<a \x0bb>", "<a b='c", "<a b=c\xa0>",
    "<a b", "<a 'b'>",
]


def test_wellformed_start_tag_path_matches_stdlib():
    from defuddle_spark.dom import _STARTTAG_WELLFORMED
    for case in WELLFORMED_TAKES + WELLFORMED_DECLINES:
        assert fast_events(case) == stdlib_events(case), repr(case)
    for case in WELLFORMED_TAKES:
        assert _STARTTAG_WELLFORMED.match(case), repr(case)
    for case in WELLFORMED_DECLINES:
        assert not _STARTTAG_WELLFORMED.match(case), repr(case)


_ATOMS = [
    "<b>", "</b>", "<div class='x y'>", "</div>", "<img src=a>", "x", "&",
    ";", "&amp;", "&amp", "&#65;", "&#x41;", "&fake;", "<", ">", "'", '"',
    "=", "<!--", "-->", "<!", "<![CDATA[", "]]>", "<?", "?>", "<script>",
    "</script>", "<title>", "</title>", "<textarea>", "</textarea>", "/",
    " ", "\n", "\t", "<b x='", "'>", "<b x=\"", "\">", "</",
    "<!doctype html>", "e", "1", "-", "<![if ie]>", "<![endif]>",
    "<![weird[", "<b / >", "<noscript>", "</noscript>", "<xmp>", "</xmp>",
    "<plaintext>", "<iframe>", "</iframe>",
]


_TAG_ATOMS = [
    "<", "a", "B", "div", " ", "\n", "\t", "\x0b", "\xa0", "\f", "\r", "=",
    '"', "'", "/", ">", "x", "&amp;", "&", "&#65;", "class", "href", "=x",
    '="v"', "='v'", "`", "\x00", "-", "/>", " />", "&not", "?a=b&c=d",
]


def test_fuzz_start_tags_event_identical():
    """Start tags with attribute-like noise, well-formed or not."""
    rng = random.Random(20261021)
    for _ in range(5000):
        s = "<" + rng.choice(["a", "div", "P", "br", "x-y"]) + "".join(
            rng.choice(_TAG_ATOMS) for _ in range(rng.randint(1, 12)))
        if rng.random() < 0.5:
            s += ">"
        assert fast_events(s) == stdlib_events(s), repr(s)


def test_fuzz_event_identical():
    rng = random.Random(20260816)
    for _ in range(10000):
        s = "".join(rng.choice(_ATOMS)
                    for _ in range(rng.randint(1, 25)))
        assert fast_events(s) == stdlib_events(s), repr(s)
