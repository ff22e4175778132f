"""Property-based hardening (hypothesis): the serializer/parser round-trip
is a fixpoint, text survives transport, and the kernel never raises on
arbitrary byte/string inputs (per-doc failure isolation at corpus scale)."""

from hypothesis import example, given, settings, strategies as st

from defuddle_spark.dom import parse
from defuddle_spark.kernel import extract_document, extract_document_bytes

# text without raw '<' or '&' (those legitimately change shape on reparse)
_plain = st.text(
    alphabet=st.characters(blacklist_characters="<&",
                           blacklist_categories=("Cs",)),
    max_size=200)

_tags = st.sampled_from(["div", "p", "span", "article", "section", "em", "b",
                         "ul", "li", "table", "td", "pre", "h1", "h2"])


@st.composite
def html_fragments(draw, depth=0):
    if depth > 3 or draw(st.booleans()):
        return draw(_plain)
    tag = draw(_tags)
    inner = "".join(draw(st.lists(html_fragments(depth=depth + 1), max_size=3)))
    attr = draw(st.sampled_from(["", ' class="a b"', ' id="x1"', ' data-k="v"']))
    return f"<{tag}{attr}>{inner}</{tag}>"


@given(html_fragments())
@settings(max_examples=150, deadline=None)
def test_serialize_parse_converges(fragment):
    # Convergence, not one-step fixpoint: spec tree construction is not
    # idempotent for some repairs — e.g. '<h1><table><h1></h1></table></h1>'
    # foster-parents the inner heading INSIDE the outer one, and the
    # reparse then sees '<h1><h1>' where the heading-pops-heading rule
    # fires (x/net/html behaves identically). The serialized form must
    # stabilize by the second reparse.
    html = f"<html><body>{fragment}</body></html>"
    once = parse(html).body.inner_html()
    twice = parse(f"<html><body>{once}</body></html>").body.inner_html()
    thrice = parse(f"<html><body>{twice}</body></html>").body.inner_html()
    assert twice == thrice


@given(_plain)
@settings(max_examples=150, deadline=None)
def test_text_survives_transport(text):
    doc = parse(f"<html><body><p>{text}</p></body></html>")
    # html.parser collapses char refs; plain text must come back intact
    # modulo the parser's whitespace handling of pure-control strings
    assert doc.body.text().strip() == text.strip() or text.strip() == ""


@given(st.text(max_size=400))
@settings(max_examples=100, deadline=None)
def test_kernel_never_raises_on_text(s)  :
    r = extract_document(s, url="https://fuzz.test/x")
    assert r is not None


@given(st.binary(max_size=400))
@settings(max_examples=100, deadline=None)
def test_kernel_never_raises_on_bytes(b):
    r = extract_document_bytes(b, url="https://fuzz.test/x")
    assert r is not None


# -- tag soup: unbalanced/misnested markup (adoption agency + foster) --------

_soup_tags = ["div", "p", "b", "i", "a", "em", "code", "u", "span",
              "table", "tr", "td", "ul", "li", "button", "section"]

_soup_piece = st.one_of(
    st.sampled_from([f"<{t}>" for t in _soup_tags]),
    st.sampled_from([f"</{t}>" for t in _soup_tags]),
    st.sampled_from(['<b class="x">', '<a href="/y">', '<i id="z">']),
    st.text(alphabet="xy 1", min_size=1, max_size=3),
)

# HTML5 parsing is NOT one-step idempotent on hostile soup — and that is
# spec behavior, not a bug: the in-body <a> rule re-runs the adoption
# agency on nested anchors, and foster-parented blocks serialize BEFORE
# their table so a reparse sees them outside any table context
# (x/net/html behaves identically). What DOES hold, and what this pins,
# is convergence: iterated serialize->parse reaches a fixed point within
# a few rounds (measured: 25/8000 random soups move once, none move
# after six rounds).
@given(st.lists(_soup_piece, max_size=25))
@settings(max_examples=300, deadline=None)
def test_tag_soup_parse_is_total_and_converges(pieces):
    cur = "".join(pieces)
    seq = []
    for _ in range(6):
        cur = parse(f"<html><body>{cur}</body></html>").body.inner_html()
        seq.append(cur)
    assert seq[-1] == seq[-2]


@given(st.lists(_soup_piece, max_size=25))
@settings(max_examples=100, deadline=None)
def test_tag_soup_extraction_never_raises(pieces):
    soup = "".join(pieces)
    r = extract_document(f"<html><body><article>{soup}</article></body></html>")
    assert r.error is None or isinstance(r.error, str)


# -- round-4 paths: quirks doctypes, plaintext, noscript, select-in-table ----

_r4_piece = st.one_of(
    st.sampled_from([f"<{t}>" for t in _soup_tags]),
    st.sampled_from([f"</{t}>" for t in _soup_tags]),
    st.sampled_from([
        "<select>", "</select>", "<option>", "<optgroup>", "<caption>",
        "<colgroup>", "<col>", "<noscript>", "</noscript>", "<center>",
        "<listing>", "<xmp>", "</xmp>", "<summary>", "<dialog>",
    ]),
    st.text(alphabet="xy 1", min_size=1, max_size=3),
)

_r4_doctype = st.sampled_from([
    "", "<!DOCTYPE html>",
    '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">',
    '<!DOCTYPE html PUBLIC "-//W3C//DTD HTML 3.2 Final//EN">',
    "<!DOCTYPE foo>",
])


@given(_r4_doctype, st.lists(_r4_piece, max_size=22))
@settings(max_examples=300, deadline=None)
def test_round4_soup_converges_under_any_doctype(doctype, pieces):
    # convergence must hold in BOTH quirks and standards mode, and with
    # the round-4 elements (select/table interplay, rawtext noscript/xmp,
    # new p-closers) in the soup. Reparses keep the same doctype so the
    # quirks flag is stable across rounds.
    cur = "".join(pieces)
    seq = []
    for _ in range(6):
        cur = parse(f"{doctype}<html><body>{cur}</body></html>") \
            .body.inner_html()
        seq.append(cur)
    assert seq[-1] == seq[-2]


@given(st.lists(_r4_piece, max_size=22))
@settings(max_examples=100, deadline=None)
def test_round4_soup_extraction_never_raises(pieces):
    soup = "".join(pieces)
    r = extract_document(
        f"<html><body><article>{soup}</article></body></html>")
    assert r.error is None or isinstance(r.error, str)


@given(st.lists(_r4_piece, max_size=14))
@settings(max_examples=100, deadline=None)
def test_plaintext_swallows_all_following_soup(pieces):
    # everything after an inserted <plaintext> is one raw text node
    tail = "".join(pieces)
    d = parse(f"<!DOCTYPE html><body><plaintext>{tail}")
    pt = next(e for e in d.body.descendants() if e.tag == "plaintext")
    assert pt.text() == tail
    assert not any(True for _ in pt.descendants())


def test_truncated_real_pages_never_raise_and_converge():
    """Common-Crawl reality: pages cut off mid-byte anywhere. Extraction
    must never raise, and the parse of any prefix must converge under
    reserialization (exercises EOF-in-rawtext, EOF-in-tag, EOF-in-attr)."""
    import sys
    sys.path.insert(0, "/root/repo")
    from tools.kernel_probe import build_pages

    pages = build_pages("/root/testdata/sf0.001", 3)
    for _, html in pages:
        text = html.decode("utf-8")
        step = max(1, len(text) // 40)
        for cut in range(1, len(text), step):
            prefix = text[:cut]
            r = extract_document(prefix, url="https://t.test/x")
            assert r is not None
            one = parse(prefix).body.inner_html()
            two = parse(f"<html><body>{one}</body></html>").body.inner_html()
            three = parse(f"<html><body>{two}</body></html>").body.inner_html()
            assert two == three, cut


_charref_pieces = st.sampled_from([
    "plain ", "&amp;", "&lt;", "&gt;", "&#65;", "&#x41;", "&notin;",
    "&copy;", "&quot;", "x=y", "2*3", " space ", "&amp", "&copy ",
    "tail&", "&;", "&#;",
])


@given(st.lists(_charref_pieces, max_size=12))
@settings(max_examples=300, deadline=None)
def test_attr_unescape_agrees_with_text_mode_outside_historical_rule(pieces):
    """Attribute-mode character-reference decoding equals html.unescape
    everywhere EXCEPT the spec's historical rule (legacy ref without its
    semicolon followed by `=`/alphanumeric). The pieces compose strings
    of semicolon-terminated refs, numeric refs, legacy refs followed by
    non-name characters, and bare junk — none trigger the rule, so the
    two decoders must agree byte-for-byte."""
    from html import unescape

    from defuddle_spark.dom import _unescape_attr

    s = "".join(pieces)
    # drop compositions that happen to place =/alnum right after a
    # legacy no-semicolon ref (e.g. '&amp' + 'x=y') — those are exactly
    # the historical-rule cases, pinned separately in tree tests
    import re
    if re.search(r"&[a-zA-Z]+[0-9A-Za-z=]", s.replace(";", " ")):
        return
    assert _unescape_attr(s) == unescape(s)


# ---------------------------------------------------------------------------
# WARC corruption robustness (round 7): the replay/resync/digest machinery
# must hold for ARBITRARY corruption, not just the hand-picked flip
# positions in test_warc.py.

from functools import lru_cache


@lru_cache(maxsize=128)
def _warc_member(i: int, with_digest: bool = True) -> bytes:
    import hashlib

    from defuddle_spark.spark.warc import (build_http_response,
                                           build_warc_record)
    words = " ".join(hashlib.md5(f"{i}:{j}".encode()).hexdigest()
                     for j in range(8))
    body = f"<html><body><p>{words}</p></body></html>".encode()
    return build_warc_record(build_http_response(body),
                             url=f"https://prop.test/{i}",
                             record_id=f"<urn:uuid:{i}>",
                             with_digest=with_digest)


@lru_cache(maxsize=4)
def _warc_corpus(digests: bool) -> tuple:
    """(gzip members tuple, expected id->payload dict) — cached so the
    hypothesis examples only pay the flip, not 30 gzip compressions."""
    import gzip

    members = tuple(gzip.compress(_warc_member(i, with_digest=digests))
                    for i in range(30))
    expected = {}
    for i in range(30):
        m = _warc_member(i, with_digest=digests)
        expected[f"<urn:uuid:{i}>"] = m.split(b"\r\n\r\n", 1)[1][:-4]
    return members, expected


@given(st.integers(min_value=0, max_value=10_000_000),
       st.integers(min_value=1, max_value=255),
       st.booleans())
@settings(max_examples=120, deadline=None)
def test_warc_iter_survives_arbitrary_single_corruption(pos, xor,
                                                        digests):
    """Flip ANY byte of a member-per-record archive: iteration never
    raises, never yields a duplicate record id, never yields a record
    that wasn't in the input, loses at most a handful of records
    around the corruption, and — when records carry digests — every
    surviving digest-bearing record's payload is byte-exact."""
    from defuddle_spark.spark.warc import iter_warc_records

    members, expected = _warc_corpus(digests)
    raw = bytearray(b"".join(members))
    raw[pos % len(raw)] ^= xor
    stats = {}
    recs = list(iter_warc_records(bytes(raw), stats=stats))

    ids = [r["warc-record-id"] for r in recs
           if r.get("warc-record-id") is not None]
    assert len(ids) == len(set(ids)), "duplicate records emitted"
    valid_ids = set(expected)
    for r in recs:
        rid = r.get("warc-record-id")
        if rid in valid_ids:
            if digests and "warc-block-digest" in r:
                assert r["payload"] == expected[rid], rid
        else:
            # a garbled record that still framed: must be counted as a
            # corrupt stream, never a silent pass-through
            assert stats["resyncs"] >= 1
    # bounded loss: one flipped byte costs at most the records decoded
    # from structurally-poisoned state, never a silent mass drop beyond
    # the resync accounting
    if stats["resyncs"] == 0 and stats["digest_failures"] == 0:
        assert len(recs) == 30, "silent loss on a 'clean' stream"


@given(st.integers(min_value=0, max_value=10_000_000),
       st.integers(min_value=1, max_value=255))
@settings(max_examples=60, deadline=None)
# (positions as zlib lays the archive out) a flip 17 bytes from the end:
# the final block never terminates, so no zlib.error fires and the
# garbled last record must still be caught
@example(pos=6346, xor=1)
# a flip that turns record 17's id into "<urn:uuid:27>" ahead of the
# real record 27: both blocks verify, so the id is ambiguous
@example(pos=3731, xor=1)
def test_warc_iter_single_member_archive_arbitrary_corruption(pos, xor):
    """Same property for a SINGLE-member archive (all records in one
    gzip stream): never raises, never duplicates, clean prefix before
    the corruption survives byte-exact for digest-verified records."""
    import gzip

    from defuddle_spark.spark.warc import iter_warc_records

    _, expected = _warc_corpus(True)
    plain = b"".join(_warc_member(i) for i in range(30))
    raw = bytearray(gzip.compress(plain))
    raw[pos % len(raw)] ^= xor
    stats = {}
    recs = list(iter_warc_records(bytes(raw), stats=stats))
    # uniqueness over records that still HAVE an id (a garble can eat
    # the id header entirely; several id-less records are fine)
    ids = [r["warc-record-id"] for r in recs
           if r.get("warc-record-id") is not None]
    assert len(ids) == len(set(ids))
    for r in recs:
        rid = r.get("warc-record-id")
        if rid in expected and "warc-block-digest" in r:
            assert r["payload"] == expected[rid]
    if stats["resyncs"] == 0 and stats["digest_failures"] == 0:
        assert len(recs) == 30
