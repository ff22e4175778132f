"""The kernel replay must reproduce extract_document_bytes exactly."""

import inputs
import replay
from defuddle_spark.kernel import extract_document_bytes

ARTICLE = (b'<!DOCTYPE html><html><head><meta charset="utf-8"><title>Doc 7'
           b'</title><meta property="og:site_name" content="Example"></head>'
           b'<body><nav><a href="/">Home</a></nav><main><article><h1>Doc 7'
           b'</h1><p>alpha beta gamma delta</p><div style="display:none">'
           b'hidden</div></article></main><footer>f</footer></body></html>')
# short, with a block only the partial selectors remove: the retry fires
RETRY = (b"<html><head><title>T</title></head><body><article><h1>T</h1>"
         b'<div class="byline">Reviewed with care by Synthetic Author</div>'
         b"<p>a short body of words</p></article></body></html>")
NO_ENTRY = (b"<html><body><div class='x'><p>" + b"word " * 60
            + b"</p></div><div class='sidebar'>s</div></body></html>")
PAGES = [
    ("https://docs.example.test/en/src0/7-r0", ARTICLE),
    ("https://docs.example.test/en/src0/8-r0", RETRY),
    ("https://docs.example.test/en/src0/9-r0", NO_ENTRY),
    ("https://nest.example.test/d120/0", inputs.nested_html(120)),
    ("https://docs.example.test/en/src0/10-r0", b""),
]


def test_replay_matches_direct_call_on_every_path():
    report = replay.replay_sample(PAGES)
    assert report.mismatches == []
    assert report.docs == len(PAGES)
    assert report.retried == 1
    m = report.metrics()
    assert set(f"{p}.ms_per_doc" for p in replay.PHASES) <= set(m)
    assert 0.5 < m["kernel.replay_coverage"] < 2.0
    assert m["dom.depth_max"] > 100  # the nested page


def test_replay_result_fields_equal_kernel():
    for url, html in PAGES:
        got, _ = replay.replay_document(html, url, replay.PhaseClock())
        want = extract_document_bytes(html, url=url)
        assert (got.content, got.extracted_text) == (
            want.content, want.extracted_text)


def test_unfaithful_replay_is_reported(monkeypatch):
    # skipping a phase must show up as a mismatch, not as a faster phase
    monkeypatch.setattr(replay, "standardize_content", lambda *a: None)
    report = replay.replay_sample(PAGES[:1])
    assert report.mismatches == [PAGES[0][0]]


def test_dom_shape_counts_depth():
    n, depth = replay.dom_shape(inputs.nested_html(50))
    assert depth >= 50 and n >= 50
