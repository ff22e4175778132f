"""Deterministic Common-Crawl-style page synthesis.

BASELINE.json input_hint mandates the input shape
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``;
no real web corpus exists in the sandbox, so pages are synthesized — fully
deterministically, with native Spark SQL expressions only — from the
driver-generated ``documents`` table. The synthesis contract that makes
the DuckDB oracle possible:

- ``url`` is a pure function of (lang, source, doc_id, replica);
- the page body carries ``documents.text`` verbatim inside the article;
- every clutter block is removable by the kernel's *exact* selectors
  (nav/header/footer/aside/.ad/.sidebar/#comments), never only by partial
  selectors — so the reference's retry-without-partial-selectors pass
  (triggered for short docs) produces the identical result and extraction
  byte-identity holds regardless of word count;
- the page ``<title>``/og:title equals ``'Doc ' || doc_id`` so the first
  heading is dropped by the title-match rule and extracted text is exactly
  ``documents.text``.

Three archetypes (doc_id % 3): semantic-article, metadata-rich,
wrapper-heavy (nested divs the flattener must unwrap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from defuddle_spark.ops.textstats import _tokens

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def synthesize_pages(spark: SparkSession, sf_dir: str,
                     replicate: int = 1, with_meta: bool = True) -> DataFrame:
    """documents.parquet → pages table of the authoritative input shape.

    ``replicate`` > 1 crossjoins a replica index (deterministic) to scale
    the corpus for benchmarks; urls stay unique per replica.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        replicas = spark.range(replicate).withColumnRenamed("id", "replica")
        docs = docs.crossJoin(F.broadcast(replicas))
    else:
        docs = docs.withColumn("replica", F.lit(0))

    url = F.concat(
        F.lit("https://docs.example.test/"), F.col("lang"), F.lit("/"),
        F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("-r"), F.col("replica").cast("string"),
    )
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    warc_ts = F.timestamp_seconds(
        F.lit(1704067200) + F.col("doc_id") * 60 + F.col("replica"))

    archetype = F.col("doc_id") % 3

    head_common = F.concat(
        F.lit('<head><meta charset="utf-8"><title>'), title, F.lit("</title>"),
        F.when(
            archetype == 1,
            F.concat(
                F.lit('<meta property="og:title" content="'), title, F.lit('">'),
                F.lit('<meta property="og:site_name" content="Example Docs">'),
                F.lit('<meta name="author" content="Synthetic Author">'),
                F.lit('<meta name="description" content="Synthetic description of '),
                title, F.lit('.">'),
                F.lit('<meta property="article:published_time" content="2024-01-15T00:00:00Z">'),
                # M8/M9 chains (round 2): og:image + relative favicon the
                # kernel must urljoin against the page url
                F.lit('<meta property="og:image" content="https://img.example.test/'),
                F.col("doc_id").cast("string"), F.lit('.png">'),
                F.lit('<link rel="icon" href="/favicon-32.png">'),
                F.lit('<link rel="canonical" href="'), url, F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head>"),
    )

    clutter_top = F.lit(
        '<header><div class="logo">Example Docs</div></header>'
        '<nav><a href="/">Home</a><a href="/archive">Archive</a><a href="/tags">Tags</a></nav>'
        '<div class="ad">Buy widgets now! Limited time offer for subscribers.</div>'
    )
    clutter_bottom = F.lit(
        '<aside class="sidebar">Trending: <a href="/p1">One</a> <a href="/p2">Two</a></aside>'
        '<div id="comments"><p>First comment!</p><p>Great post.</p></div>'
        "<footer>© 2024 Example Docs. All rights reserved.</footer>"
    )

    body_article = F.when(
        archetype == 2,
        # wrapper-heavy: flattener must unwrap nested divs
        F.concat(
            F.lit("<article><h1>"), title, F.lit("</h1>"),
            F.lit('<div class="wrapper"><div class="inner"><p>'),
            F.col("text"),
            F.lit("</p></div></div></article>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<article><h1>"), title, F.lit("</h1><p>"),
            F.col("text"), F.lit("</p>"),
            # R2/R4 clutter inside the selected content (round 2): a
            # tracking-pixel-sized img and a display:none block. The
            # extract_semantic oracle asserts content == '<p>'||text||'</p>'
            # byte-identically, so failing to remove either fails the gate
            # (the goquery no-clone quirk makes removals reach the selected
            # subtree).
            # ... plus a KEPT full-size figure: default extraction must
            # retain it (asserted in extract_semantic's content) while the
            # remove_images=True variant (extract_noimages, R3) strips it.
            F.when(archetype == 0, F.concat(
                F.lit('<img src="/media/'), F.col("doc_id").cast("string"),
                F.lit('.png" alt="Figure '), F.col("doc_id").cast("string"),
                F.lit('" width="640" height="480">'),
                F.lit('<img src="/pix.png" width="10" height="10">'
                      '<div style="display:none">tracking beacon text</div>'),
            )).otherwise(F.lit("")),
            F.lit("</article>"),
        ),
    )

    html_str = F.concat(
        F.lit("<!DOCTYPE html><html>"),
        head_common,
        F.lit("<body>"),
        clutter_top,
        F.lit("<main>"), body_article, F.lit("</main>"),
        clutter_bottom,
        F.lit("</body></html>"),
    )

    out = docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
        F.col("replica"),
    )
    return out


def pages_only(df: DataFrame) -> DataFrame:
    """Project to the authoritative 5-column input shape."""
    return df.select(*PAGES_COLUMNS)


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.withColumn("n_tokens", F.size(_tokens("text")))


def synthesize_scored_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages that exercise findContentByScoring (C4/C5, defuddle.go:742-749,
    scorer.go:325-434): NO entry-point selector matches (no article/main/
    role/entry id/class) and no table, so selection falls through to the
    div/section scorer. The single bare content div scores
    words + 10 (one <p>) with no deductions; docs are filtered to
    >= 41 tokens so the score strictly exceeds the 50 threshold and the
    winner is SQL-predictable. Clutter lives in non-div tags (header/nav/
    aside/footer) so it never enters the candidate list.
    """
    docs = _docs_with_tokens(spark, sf_dir).filter(F.col("n_tokens") >= 41)
    url = F.concat(F.lit("https://scored.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html_str = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>'),
        title, F.lit("</title></head><body>"),
        F.lit('<header><div class="logo">Example Docs</div></header>'
              '<nav><a href="/">Home</a><a href="/archive">Archive</a></nav>'),
        F.lit("<div><p>"), F.col("text"), F.lit("</p></div>"),
        F.lit('<aside class="sidebar">Trending: <a href="/p1">One</a></aside>'
              "<footer>© 2024 Example Docs. All rights reserved.</footer>"
              "</body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_table_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages that exercise findTableBasedContent (C3, defuddle.go:714-732):
    no entry-point selectors; a 1990s table layout (width=800 > 400 marks it
    a layout table) whose MIDDLE td carries the article. The middle cell
    scores words + 10 (one <p>) + 10 (interior-cell bonus); docs are
    filtered to >= 35 tokens so the best cell strictly clears the 50
    threshold while the rail cells (2 words each) never compete.
    """
    docs = _docs_with_tokens(spark, sf_dir).filter(F.col("n_tokens") >= 35)
    url = F.concat(F.lit("https://tabular.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html_str = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>'),
        title, F.lit("</title></head><body>"),
        F.lit('<header><div class="logo">Example Docs</div></header>'),
        F.lit('<table width="800"><tr><td>Left rail</td><td><p>'),
        F.col("text"),
        F.lit("</p></td><td>Right rail</td></tr></table>"),
        F.lit("<footer>© 2024 Example Docs</footer></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


# Giant-page skew archetype knobs: every GIANT_EVERY-th doc carries its
# paragraph repeated GIANT_REPEATS times (single-space-joined), producing
# the heavy-tailed multi-MB blobs of Common-Crawl reality among otherwise
# normal pages. Module-level constants so the DuckDB oracle can reproduce
# the exact string (repeat(text||' ', GIANT_REPEATS-1)||text).
GIANT_EVERY = 50
GIANT_REPEATS = 2000


def synthesize_giant_pages(spark: SparkSession, sf_dir: str,
                           giant_every: int = GIANT_EVERY,
                           repeats: int = GIANT_REPEATS) -> DataFrame:
    """Heavy-tailed skew archetype (north_rule "skew handled explicitly",
    SURVEY.md §4.2): most pages are normal-sized, but every
    ``giant_every``-th doc's article paragraph is the text repeated
    ``repeats`` times — ~1 MB of HTML at the testdata's ~500-byte texts,
    the straggler shape extract_pages' url-hash salting spreads across
    its one kernel wave.

    Extraction stays SQL-predictable per the synthesis contract:
    extracted_text is the space-joined repetition and word_count scales
    linearly with ``repeats``.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://giant.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    is_giant = F.col("doc_id") % giant_every == 0
    body_text = F.when(
        is_giant,
        F.concat_ws(" ", F.array_repeat(F.col("text"), repeats)),
    ).otherwise(F.col("text"))
    html_str = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>'),
        title, F.lit("</title></head><body>"),
        F.lit('<header><div class="logo">Example Docs</div></header>'
              '<nav><a href="/">Home</a><a href="/archive">Archive</a></nav>'),
        F.lit("<article><h1>"), title, F.lit("</h1><p>"), body_text,
        F.lit("</p></article>"),
        F.lit('<aside class="sidebar">Trending: <a href="/p1">One</a></aside>'
              "<footer>© 2024 Example Docs. All rights reserved.</footer>"
              "</body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


# Byline text used by the retry archetype; the oracle concatenates it
# verbatim (no separator: Element.text() joins adjacent blocks without one).
RETRY_BYLINE = "Reviewed with care by Synthetic Author"
# Fixed 200-token paragraph pushing every 4th retry-archetype doc past the
# retry threshold, so the oracle asserts BOTH sides of `word_count < 200`.
RETRY_FILLER = " ".join(["pad"] * 200)


def synthesize_retry_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages that exercise the real <200-word retry loop (C6,
    defuddle.go:133-169) rather than its provably-identical skip path:
    the article carries a div removable ONLY by the PARTIAL selector list
    ("byline" is a partial pattern, not an exact selector and not removed
    by ScoreAndRemove — its text has no navigation indicators). First pass
    removes it (partial_removals > 0); when the remaining word count is
    < 200 the retry re-runs WITHOUT partial selectors and keeps the byline,
    winning on word count. Every 4th doc gets a fixed 200-token filler
    paragraph so it lands ABOVE the threshold, keeps the first-pass result
    (byline removed, retry_used false), and the oracle's CASE asserts the
    threshold from both sides.
    """
    docs = _docs_with_tokens(spark, sf_dir)
    url = F.concat(F.lit("https://short.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    filler_p = F.when(F.col("doc_id") % 4 == 0,
                      F.lit(f"<p>{RETRY_FILLER}</p>")).otherwise(F.lit(""))
    html_str = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>'),
        title, F.lit("</title></head><body>"),
        F.lit("<header>H</header><nav>N</nav><article><h1>"), title,
        F.lit("</h1><p>"), F.col("text"), F.lit("</p>"), filler_p,
        F.lit(f'<div class="byline">{RETRY_BYLINE}</div></article>'),
        F.lit("<footer>F</footer></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_elements_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages exercising ALL six opt-in element processors (round 2).

    Run through extract_pages(kernel_options={process_* : True}); each
    construct's processed form differs byte-wise from the default path, so
    the oracle's content identity proves every processor ran: E5 unwraps
    the in-heading anchor, E6 turns role=list/listitem into <ol><li> (the
    '.'-label ordered rule + label removal — the default path deletes the
    div as non-content), E1 adds data-lang to the code block, E3
    restructures the footnote ref + labels the endnote li, E4 normalizes
    the <math> element (xmlns + display), E2 generates img alt text from
    the figcaption.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://elements.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html_str = F.concat(
        F.lit('<html><head><meta charset="utf-8"><title>'), title,
        F.lit("</title></head><body><article><h1>"), title,
        F.lit("</h1><h2><a href=\"#section\">Section "), title,
        F.lit("</a></h2><p>"), F.col("text"), F.lit("</p>"),
        F.lit('<div role="list"><div role="listitem"><span class="label">1.</span>first item</div>'
              '<div role="listitem"><span class="label">2.</span>second item</div></div>'),
        F.lit('<pre><code class="language-go">fmt.Println("hi")</code></pre>'),
        F.lit('<p>Claim<sup id="fnref:1"><a href="#fn:1">1</a></sup> stands.</p>'
              '<math display="block"><mi>x</mi><mo>=</mo><mn>2</mn></math>'
              '<div class="footnotes"><ol><li id="fn:1"><p>the source</p></li></ol></div>'
              '<figure><img src="/img/chart.png" alt=""><figcaption>A chart caption</figcaption></figure>'),
        F.lit("</article></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_github_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GitHub issue pages (extractor-routing archetype #2, round 2).

    Deterministic from `documents`; the GitHub extractor's whole output is
    predictable in SQL: content is the issue-author header + markdown body,
    site is 'GitHub - owner/repo', description is the 140-char
    whitespace-normalized text. Drives the `extract_github` oracle.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://github.com/acme/"), F.col("source"),
                   F.lit("/issues/"), F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    author = F.concat(F.lit("user"), (F.col("doc_id") % 50).cast("string"))
    day = (F.col("doc_id") % 9 + 1).cast("string")
    html_str = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><meta name="octolytics-url" content="https://collector.github.com/github/collect"></head>'
              '<body><div data-testid="issue-title">'), title, F.lit("</div>"),
        F.lit('<div data-testid="issue-viewer-issue-container">'
              '<a data-testid="issue-body-header-author" href="/'), author,
        F.lit('">'), author, F.lit("</a>"),
        F.lit('<relative-time datetime="2024-02-0'), day,
        F.lit('T12:00:00Z"></relative-time>'),
        F.lit('<div data-testid="issue-body-viewer"><div class="markdown-body"><p>'),
        F.col("text"),
        F.lit("</p></div></div></div></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1707091200) + F.col("doc_id"))
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_youtube_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YouTube watch pages (extractor-routing archetype #3, round 2).

    The extractor reads the VideoObject from the page's JSON-LD — which now
    flows through the offline expansion+compaction path (jsonld.py), so
    this archetype also drives M2's expansion pipeline at the gate. All
    outputs (embed iframe, 200-char word-boundary description truncation,
    thumbnail/author/uploadDate) are SQL-predictable.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vid = F.concat(F.lit("vid"), F.col("doc_id").cast("string"))
    url = F.concat(F.lit("https://www.youtube.com/watch?v="), vid)
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    author = F.concat(F.lit("Channel "), (F.col("doc_id") % 50).cast("string"))
    day = (F.col("doc_id") % 9 + 1).cast("string")
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit(" - YouTube</title>"),
        F.lit('<script type="application/ld+json">{"@context":"https://schema.org",'
              '"@type":"VideoObject","name":"'), title,
        F.lit('","description":"'), F.col("text"),
        F.lit('","uploadDate":"2024-03-0'), day,
        F.lit('T08:00:00Z","author":"'), author,
        F.lit('","thumbnailUrl":"https://img.example.test/thumb'),
        F.col("doc_id").cast("string"),
        F.lit('.jpg"}</script></head><body><div id="player"></div></body></html>'),
    )
    warc_ts = F.timestamp_seconds(F.lit(1709251200) + F.col("doc_id"))
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_reddit_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reddit post pages (extractor-routing archetype #4, round 2):
    shreddit-post text body + one shreddit-comment; the extractor's post/
    comment assembly, r/<sub> site string, and 140-char description are all
    SQL-predictable. Drives the `extract_reddit` oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sub = F.col("source")
    url = F.concat(F.lit("https://www.reddit.com/r/"), sub,
                   F.lit("/comments/abc"), F.col("doc_id").cast("string"),
                   F.lit("/doc_"), F.col("doc_id").cast("string"), F.lit("/"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    author = F.concat(F.lit("redditor"), (F.col("doc_id") % 50).cast("string"))
    commenter = F.concat(F.lit("commenter"), (F.col("doc_id") % 20).cast("string"))
    score = (F.col("doc_id") % 100).cast("string")
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body>"),
        F.lit('<shreddit-post author="'), author, F.lit('"><h1>'), title,
        F.lit('</h1><div slot="text-body"><p>'), F.col("text"),
        F.lit("</p></div></shreddit-post>"),
        F.lit('<shreddit-comment depth="0" author="'), commenter,
        F.lit('" score="'), score,
        F.lit('" permalink="/r/'), sub, F.lit("/comments/abc"),
        F.col("doc_id").cast("string"),
        F.lit('/c1/"><div slot="comment"><p>Nice analysis.</p></div></shreddit-comment>'),
        F.lit("</body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1710000000) + F.col("doc_id"))
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


# ChatGPT conversation template pieces (fixed strings the conversation
# base emits around the two message bodies); the extract_chatgpt oracle
# splices them verbatim — see tests/test_extractors.py for the kernel-side
# pins of the same template.
CHATGPT_P1 = ('<div class="message message-you said" data-role="user">\n\t\t\t\t'
              '<div class="message-header">\n\t\t\t\t\t'
              '<p class="message-author"><strong>You said</strong></p>\n\t\t\t\t\t\n\t\t\t\t'
              '</div>\n\t\t\t\t<div class="message-content">\n\t\t\t\t\t'
              '<div class="text-message"><p>')
CHATGPT_P2 = ('</p></div>\n\t\t\t\t</div>\n\t\t\t</div>\n<hr>\n\t\t\t'
              '<div class="message message-chatgpt said" data-role="assistant">\n\t\t\t\t'
              '<div class="message-header">\n\t\t\t\t\t'
              '<p class="message-author"><strong>ChatGPT said</strong></p>\n\t\t\t\t\t\n\t\t\t\t'
              '</div>\n\t\t\t\t<div class="message-content">\n\t\t\t\t\t'
              '<div class="text-message"><p>')
CHATGPT_P3 = '</p></div>\n\t\t\t\t</div>\n\t\t\t</div>'
CHATGPT_T1 = '\n\t\t\t\t\n\t\t\t\t\tYou said\n\t\t\t\t\t\n\t\t\t\t\n\t\t\t\t\n\t\t\t\t\t'
CHATGPT_T2 = ('\n\t\t\t\t\n\t\t\t\n\n\t\t\t\n\t\t\t\t\n\t\t\t\t\t'
              'ChatGPT said\n\t\t\t\t\t\n\t\t\t\t\n\t\t\t\t\n\t\t\t\t\t')
CHATGPT_T3 = '\n\t\t\t\t\n\t\t\t'


def synthesize_chatgpt_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChatGPT share pages (extractor-routing archetype #5, round 2):
    two conversation turns (user prompt + assistant answer carrying the
    document text); the conversation base's message/header template output
    is byte-predictable (the CHATGPT_* constants above)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    url = F.concat(F.lit("https://chatgpt.com/share/abc-"),
                   F.col("doc_id").cast("string"))
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body><main>"),
        F.lit('<article data-testid="conversation-turn-1" data-message-author-role="user">'
              '<h5 class="sr-only">You said:</h5><div class="text-message"><p>Explain Doc '),
        F.col("doc_id").cast("string"), F.lit(".</p></div></article>"),
        F.lit('<article data-testid="conversation-turn-2" data-message-author-role="assistant">'
              '<h6 class="sr-only">ChatGPT said:</h6><div class="text-message"><p>'),
        F.col("text"), F.lit("</p></div></article></main></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1711000000) + F.col("doc_id"))
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def _conversation_pages(spark: SparkSession, sf_dir: str, url_col,
                        title_suffix: str, user_html, bot_html,
                        ts0: int) -> DataFrame:
    """Shared two-turn conversation page shell for the AI-chat archetypes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit(title_suffix),
        F.lit("</title></head><body><main>"), user_html, bot_html,
        F.lit("</main></body></html>"))
    warc_ts = F.timestamp_seconds(F.lit(ts0) + F.col("doc_id"))
    return docs.select(
        url_col.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_claude_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claude share pages (round 2): user/assistant data-testid messages."""
    did = F.col("doc_id").cast("string")
    user = F.concat(F.lit('<div data-testid="user-message"><p>Explain Doc '),
                    did, F.lit(".</p></div>"))
    bot = F.concat(F.lit('<div data-testid="assistant-message"><p>'),
                   F.col("text"), F.lit("</p></div>"))
    url = F.concat(F.lit("https://claude.ai/share/abc-"), did)
    return _conversation_pages(spark, sf_dir, url, " - Claude", user, bot,
                               1712000000)


def synthesize_grok_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok share pages (round 2): items-end/items-start message bubbles."""
    did = F.col("doc_id").cast("string")
    user = F.concat(
        F.lit('<div class="relative group flex flex-col justify-center w-full '
              'items-end"><div class="message-bubble">Explain Doc '),
        did, F.lit(".</div></div>"))
    bot = F.concat(
        F.lit('<div class="relative group flex flex-col justify-center w-full '
              'items-start"><div class="message-bubble"><p>'),
        F.col("text"), F.lit("</p></div></div>"))
    url = F.concat(F.lit("https://grok.x.ai/share/abc-"), did)
    return _conversation_pages(spark, sf_dir, url, " - Grok", user, bot,
                               1713000000)


def synthesize_gemini_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gemini share pages (round 2): conversation-container with
    user-query/model-response custom elements."""
    did = F.col("doc_id").cast("string")
    user = F.concat(
        F.lit('<div class="conversation-container"><user-query>'
              '<div class="query-text"><p>Explain Doc '),
        did, F.lit(".</p></div></user-query>"))
    bot = F.concat(
        F.lit('<model-response><div class="model-response-text">'
              '<div class="markdown"><p>'),
        F.col("text"), F.lit("</p></div></div></model-response></div>"))
    url = F.concat(F.lit("https://gemini.google.com/share/abc"), did)
    return _conversation_pages(spark, sf_dir, url, "", user, bot, 1714000000)


def synthesize_twitter_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X/Twitter status pages (round 2): timeline + tweet article with
    User-Name links, timestamped permalink, and tweetText; the extractor's
    thread/header assembly is byte-predictable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    u = (F.col("doc_id") % 50).cast("string")
    day = (F.col("doc_id") % 9 + 1).cast("string")
    url = F.concat(F.lit("https://x.com/user"), u, F.lit("/status/"), did)
    html_str = F.concat(
        F.lit('<html><head><title>Post</title></head><body>'
              '<div aria-label="Timeline: Conversation">'
              '<article data-testid="tweet"><div data-testid="User-Name">'
              '<a href="/user'), u, F.lit('">User '), u,
        F.lit('</a><a href="/user'), u, F.lit('">@user'), u,
        F.lit('</a></div><a href="/user'), u, F.lit("/status/"), did,
        F.lit('"><time datetime="2024-04-0'), day,
        F.lit('T10:00:00.000Z">Apr</time></a>'
              '<div data-testid="tweetText"><span>'),
        F.col("text"),
        F.lit("</span></div></article></div></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1715000000) + F.col("doc_id"))
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))


def synthesize_hn_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hacker News item pages (extractor-routing archetype, FIXTURES.md #13).

    Deterministic from `documents`; the HN extractor's output is predictable
    in SQL: content wraps the article url + text, title is the titleline,
    author/date come from subtext. Used by the `extract_hackernews` oracle
    query.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(F.lit("https://news.ycombinator.com/item?id="),
                   F.col("doc_id").cast("string"))
    article_url = F.concat(F.lit("https://articles.example.test/"),
                           F.col("source"), F.lit("/"),
                           F.col("doc_id").cast("string"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    author = F.concat(F.lit("user"), (F.col("doc_id") % 50).cast("string"))
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit(" | Hacker News</title></head><body>"),
        F.lit('<table class="fatitem"><tr class="athing" id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><td class="title"><span class="titleline"><a href="'), article_url,
        F.lit('">'), title, F.lit("</a></span></td></tr>"),
        F.lit('<tr><td class="subtext"><span class="score">'),
        (F.col("doc_id") % 500 + 1).cast("string"),
        F.lit(' points</span> by <a class="hnuser">'), author,
        F.lit('</a> <span class="age" title="2024-02-0'),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit('T12:00:00"></span></td></tr>'),
        F.lit('<tr><td><div class="toptext"><p>'), F.col("text"),
        F.lit("</p></div></td></tr></table></body></html>"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1706745600) + F.col("doc_id"))
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


# The nine extractor-routing archetypes in registry order of their gates
# (round 6: folded into ONE multi-domain routed gate so every oracle-backed
# query fits the driver's correctness window — VERDICT r5 #1). Position k
# takes the doc_id % 9 == k slice, so each extractor still gets a
# deterministic ~1/9 of the corpus and the combined page set stays exactly
# one row per document.
ROUTED_ARCHETYPES = (
    ("hackernews", "synthesize_hn_pages"),
    ("github", "synthesize_github_pages"),
    ("youtube", "synthesize_youtube_pages"),
    ("reddit", "synthesize_reddit_pages"),
    ("chatgpt", "synthesize_chatgpt_pages"),
    ("claude", "synthesize_claude_pages"),
    ("grok", "synthesize_grok_pages"),
    ("gemini", "synthesize_gemini_pages"),
    ("twitter", "synthesize_twitter_pages"),
)


def synthesize_routed_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-domain corpus: each document becomes ONE page whose domain is
    picked by doc_id % 9 from the nine extractor archetypes above, so a
    single extraction run exercises the url-routing registry (first match
    wins, registry.go:116-147) across all nine site extractors at once.
    One output row per document."""
    import sys

    mod = sys.modules[__name__]
    out = None
    for k, (_, fn_name) in enumerate(ROUTED_ARCHETYPES):
        part = getattr(mod, fn_name)(spark, sf_dir).filter(
            F.col("doc_id") % 9 == k)
        out = part if out is None else out.unionByName(part)
    return out


def synthesize_markdown_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose extracted content's MARKDOWN is SQL-predictable (K1,
    /root/reference/internal/markdown/convert.go:13-23, convert_test.go).

    Ten construct families keyed by doc_id % 10 — headings, emphasis
    (incl. *** nesting), unordered list, ordered list, link-with-title,
    inline code + fenced code, blockquote, hr/hard-break/image, table
    (cell-flattening: ConvertString registers no table plugin, so cells
    become blank-line-separated blocks), and smart-escaping (adversarial
    ``*``/``_``/line-start/``[``/`` | ``/``~~``/backtick/backslash text
    whose escaped bytes are asserted) —
    each an <article> whose h1 is dropped by the title-match rule and
    whose remaining constructs convert to a fixed markdown shape around
    the document's text. Construct words are fixed strings (plus doc_id
    interpolations), so the DuckDB oracle rebuilds content_markdown
    byte-identically per row. Note ``<ol start=>`` is used in family 3
    but the EXPECTED markdown starts at ``1.`` — the reference's
    standardization strips ``start`` (not in ALLOWED_ATTRIBUTES,
    constants.go:1002) before conversion, and that full-kernel behavior
    is exactly what this archetype pins (start= honouring on raw
    fragments is pinned separately in tests/test_markdown.py).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("string")
    url = F.concat(F.lit("https://md.example.test/"), F.col("lang"),
                   F.lit("/"), F.col("source"), F.lit("/"), did)
    title = F.concat(F.lit("Doc "), did)
    fam = F.col("doc_id") % 10
    construct = (
        F.when(fam == 0, F.concat(
            F.lit("<h2>Section "), did, F.lit("</h2><p>"), F.col("text"),
            F.lit("</p><h3>Detail "), did,
            F.lit("</h3><p>closing words here</p>")))
        .when(fam == 1, F.concat(
            F.lit("<p>plain <em>soft</em> and <strong>hard</strong> and "
                  "<strong><em>both</em></strong> words</p><p>"),
            F.col("text"), F.lit("</p>")))
        .when(fam == 2, F.concat(
            F.lit("<ul><li>alpha</li><li>beta "), did,
            F.lit("</li><li>gamma</li></ul><p>"), F.col("text"),
            F.lit("</p>")))
        .when(fam == 3, F.concat(
            F.lit('<ol start="5"><li>first</li><li>second '), did,
            F.lit("</li></ol><p>"), F.col("text"), F.lit("</p>")))
        .when(fam == 4, F.concat(
            F.lit('<p>see <a href="https://example.test/p/'), did,
            F.lit('" title="Doc '), did, F.lit('">the doc</a> here</p><p>'),
            F.col("text"), F.lit("</p>")))
        .when(fam == 5, F.concat(
            F.lit("<p>inline <code>x = "), did,
            F.lit('</code> call</p><pre><code class="language-python">print('),
            did, F.lit(")</code></pre><p>"), F.col("text"), F.lit("</p>")))
        .when(fam == 6, F.concat(
            F.lit("<blockquote><p>quoted "), did,
            F.lit(" words</p></blockquote><p>"), F.col("text"),
            F.lit("</p>")))
        .when(fam == 7, F.concat(
            F.lit("<p>before "), did,
            F.lit("</p><hr><p>line one<br>line two</p>"
                  '<p><img src="https://img.example.test/'), did,
            F.lit('.png" alt="Figure '), did, F.lit('"></p><p>'),
            F.col("text"), F.lit("</p>")))
        .when(fam == 8, F.concat(
            F.lit("<table><thead><tr><th>Name</th><th>Count</th></tr>"
                  "</thead><tbody><tr><td>alpha "), did,
            F.lit("</td><td>7</td></tr><tr><td>beta</td><td>9</td></tr>"
                  "</tbody></table><p>"), F.col("text"), F.lit("</p>")))
        .otherwise(F.concat(
            F.lit("<p>flank *x* and 2 * 3 stay snake_case keeps _emph_ ok</p>"
                  "<p># lead</p><p>- dash</p><p>1. num</p><p>&gt; quo</p>"
                  "<p>tick `code` see [ref "), did,
            F.lit("] a|b ~~x~~ go![now &lt;div C:\\dir inside</p><p>"),
            F.col("text"), F.lit("</p>"))))
    html_str = F.concat(
        F.lit('<!DOCTYPE html><html><head><meta charset="utf-8"><title>'),
        title, F.lit("</title></head><body><article><h1>"), title,
        F.lit("</h1>"), construct, F.lit("</article></body></html>"))
    warc_ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    return docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"))
