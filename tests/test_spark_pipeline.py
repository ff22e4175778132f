"""Spark integration: synthesis round-trip, manifests/resume, routing."""

import os
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_synthesis_roundtrip_byte_identical(spark):
    """north_rule invariant: byte-identical extracted text per url."""
    from defuddle_spark.spark.pages import synthesize_pages
    from defuddle_spark.spark.pipeline import extract_pages

    pages = synthesize_pages(spark, SF)
    out = extract_pages(pages.select("url", "html"), with_routing_column=False)
    truth = pages.select("url", F.col("text").alias("expect"))
    j = out.join(truth, "url").cache()
    assert j.count() == 500
    assert j.filter(F.col("extracted_text") != F.col("expect")).count() == 0
    assert j.filter(F.col("error").isNotNull()).count() == 0
    j.unpersist()


def test_input_shape_is_authoritative(spark):
    from defuddle_spark.spark.pages import pages_only, synthesize_pages
    df = pages_only(synthesize_pages(spark, SF))
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
    types = dict(df.dtypes)
    assert types == {"url": "string", "warc_ts": "timestamp",
                     "html": "binary", "text": "string", "lang": "string"}


def test_resume_after_partial_failure(spark, tmp_path):
    """Kill mid-job → rerun → no duplicate or missing urls (north_rule)."""
    from defuddle_spark.spark.manifest import committed_buckets, run_extraction_job
    from defuddle_spark.spark.pages import synthesize_pages

    pages = synthesize_pages(spark, SF).select("url", "html").cache()
    n_total = pages.count()
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")

    m1 = run_extraction_job(spark, pages, out_dir, man_dir,
                            num_buckets=8, group_size=2, fail_after_groups=2)
    assert m1["groups_run"] == 2
    done_after_crash = committed_buckets(spark, man_dir)
    assert len(done_after_crash) == 4

    partial = spark.read.parquet(out_dir)
    n_partial = partial.count()
    assert 0 < n_partial < n_total

    m2 = run_extraction_job(spark, pages, out_dir, man_dir,
                            num_buckets=8, group_size=2)
    assert m2["buckets_done_before"] == 4

    final = spark.read.parquet(out_dir)
    assert final.count() == n_total
    assert final.select("url").distinct().count() == n_total  # no dupes
    # manifest carries lineage + metrics per bucket
    manifest = spark.read.json(man_dir)
    assert manifest.select("bucket").distinct().count() == 8
    assert manifest.agg(F.sum("doc_count")).head()[0] == n_total
    for col in ("doc_count", "error_count", "content_bytes", "wall_s",
                "kernel_version"):
        assert col in manifest.columns
    pages.unpersist()


def _assert_resumed_like_a_clean_run(spark, pages, tmp_path, n_total):
    """The resumed job under ``tmp_path`` (``out``, ``manifest``) holds
    every url once, its manifest's doc_count sums to the input count, and
    its rows equal those of a crash-free run (8 buckets in groups of 2)."""
    from defuddle_spark.spark import manifest

    out_dir, man_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    final = spark.read.parquet(out_dir)
    assert final.count() == n_total
    assert final.select("url").distinct().count() == n_total
    assert spark.read.json(man_dir).agg(F.sum("doc_count")).head()[0] == n_total

    clean_dir = str(tmp_path / "clean")
    manifest.run_extraction_job(spark, pages, clean_dir,
                                str(tmp_path / "clean_manifest"),
                                num_buckets=8, group_size=2)
    cols = [c for c in final.columns if c != "parse_time_ms"]
    clean = spark.read.parquet(clean_dir).select(cols)
    assert final.select(cols).exceptAll(clean).count() == 0
    assert clean.exceptAll(final.select(cols)).count() == 0


def test_resume_after_crash_between_write_and_record(spark, tmp_path,
                                                     monkeypatch):
    """A crash after a group's rows are written but before its manifest
    record lands leaves rows the manifest does not know. The resume
    redoes that group and must replace them: every url once, the
    manifest's doc_count equal to the input count, and the same rows a
    crash-free run writes."""
    from defuddle_spark.spark import manifest
    from defuddle_spark.spark.pages import synthesize_pages

    pages = synthesize_pages(spark, SF).select("url", "html").cache()
    n_total = pages.count()
    out_dir, man_dir = str(tmp_path / "out"), str(tmp_path / "manifest")

    append = manifest._append_manifest
    calls = []

    def crash_on_second_record(manifest_dir, records):
        calls.append(len(records))
        if len(calls) == 2:
            raise RuntimeError("injected crash before the commit record")
        append(manifest_dir, records)

    monkeypatch.setattr(manifest, "_append_manifest", crash_on_second_record)
    with pytest.raises(RuntimeError, match="injected crash"):
        manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    monkeypatch.setattr(manifest, "_append_manifest", append)
    assert len(manifest.committed_buckets(spark, man_dir)) == 2
    assert spark.read.parquet(out_dir).count() > 0

    m = manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    assert m["buckets_done_before"] == 2 and m["groups_run"] == 3
    _assert_resumed_like_a_clean_run(spark, pages, tmp_path, n_total)
    pages.unpersist()


def test_resume_after_crash_inside_a_task(spark, tmp_path, monkeypatch):
    """A Python task that raises while group 2 is being written fails
    that group's write job after the other tasks have written their
    files. The job leaves no row of group 2 and no commit record; the
    resume redoes it: every url once, the manifest's doc_count equal to
    the input count, and the same rows a crash-free run writes."""
    from defuddle_spark.spark import manifest
    from defuddle_spark.spark.pages import synthesize_pages

    pages = synthesize_pages(spark, SF).select("url", "html").cache()
    n_total = pages.count()
    out_dir, man_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    # group 2 holds buckets 2 and 3 (8 buckets in groups of 2)
    target = (manifest.with_bucket(pages, 8)
              .filter(F.col("bucket").isin(2, 3)).agg(F.min("url"))
              .head()[0])

    extract = manifest.extract_pages
    calls = []

    def crash_in_second_group(df, **kw):
        out = extract(df, **kw)
        calls.append(1)
        if len(calls) != 2:
            return out

        def fail_on_target(batches):
            for b in batches:
                if (b["url"] == target).any():
                    raise RuntimeError("injected crash inside a task")
                yield b
        return out.mapInPandas(fail_on_target, out.schema)

    monkeypatch.setattr(manifest, "extract_pages", crash_in_second_group)
    with pytest.raises(Exception, match="injected crash inside a task"):
        manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    monkeypatch.setattr(manifest, "extract_pages", extract)
    assert len(calls) == 2
    assert manifest.committed_buckets(spark, man_dir) == {0, 1}
    written = spark.read.parquet(out_dir).select("bucket").distinct()
    assert {r["bucket"] for r in written.collect()} == {0, 1}

    m = manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    assert m["buckets_done_before"] == 2 and m["groups_run"] == 3
    _assert_resumed_like_a_clean_run(spark, pages, tmp_path, n_total)
    pages.unpersist()


def test_resume_after_crash_after_record(spark, tmp_path, monkeypatch):
    """A crash right after a group's commit record lands leaves that
    group committed. The resume skips it and runs the rest: every url
    once, the manifest's doc_count equal to the input count, and the
    same rows a crash-free run writes."""
    from defuddle_spark.spark import manifest
    from defuddle_spark.spark.pages import synthesize_pages

    pages = synthesize_pages(spark, SF).select("url", "html").cache()
    n_total = pages.count()
    out_dir, man_dir = str(tmp_path / "out"), str(tmp_path / "manifest")

    append = manifest._append_manifest
    calls = []

    def crash_after_second_record(manifest_dir, records):
        append(manifest_dir, records)
        calls.append(len(records))
        if len(calls) == 2:
            raise RuntimeError("injected crash after the commit record")

    monkeypatch.setattr(manifest, "_append_manifest", crash_after_second_record)
    with pytest.raises(RuntimeError, match="injected crash"):
        manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    monkeypatch.setattr(manifest, "_append_manifest", append)
    assert manifest.committed_buckets(spark, man_dir) == {0, 1, 2, 3}

    m = manifest.run_extraction_job(spark, pages, out_dir, man_dir,
                                    num_buckets=8, group_size=2)
    assert m["buckets_done_before"] == 4 and m["groups_run"] == 2

    _assert_resumed_like_a_clean_run(spark, pages, tmp_path, n_total)
    pages.unpersist()


def _archetype0_pages(spark, n):
    """``n`` synthesized pages of archetype 0 (article with a 640x480 and
    a 10x10 image), url-ordered."""
    from defuddle_spark.spark.pages import synthesize_pages

    pages = synthesize_pages(spark, SF).select("url", "html")
    return (pages.filter(F.col("html").cast("string").contains("/media/"))
            .orderBy("url").limit(n).cache())


def test_job_kernel_options_reach_the_kernel_and_the_records(spark,
                                                             tmp_path):
    """``run_extraction_job(kernel_options=...)`` extracts under those
    options and records them, next to the kernel version, in every
    commit record."""
    from defuddle_spark.spark.manifest import run_extraction_job

    pages = _archetype0_pages(spark, 3)
    content = {}
    for name, options in (("plain", None), ("no_images",
                                            {"remove_images": True})):
        out_dir = str(tmp_path / name / "out")
        man_dir = str(tmp_path / name / "manifest")
        run_extraction_job(spark, pages, out_dir, man_dir, num_buckets=2,
                           group_size=2, kernel_options=options)
        content[name] = {r["url"]: r["content"] for r in
                         spark.read.parquet(out_dir).collect()}
        records = spark.read.json(man_dir).collect()
        assert {r["kernel_options"] for r in records} == {
            "{}" if options is None else '{"remove_images": true}'}
        assert {r["kernel_version"] for r in records} == {"0.1.0"}
    assert content["plain"].keys() == content["no_images"].keys()
    assert len(content["plain"]) == 3
    for url, html in content["plain"].items():
        assert "<img" in html
        assert "<img" not in content["no_images"][url]
        assert content["no_images"][url] != html
    pages.unpersist()


def test_resume_under_other_kernel_options_is_refused(spark, tmp_path):
    """A resume whose kernel options differ from the committed records'
    raises before it runs a group, naming both option sets; under the
    committed options it resumes."""
    from defuddle_spark.spark.manifest import (committed_buckets,
                                               run_extraction_job)

    pages = _archetype0_pages(spark, 6)
    out_dir, man_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    job = dict(num_buckets=4, group_size=2)
    m = run_extraction_job(spark, pages, out_dir, man_dir,
                           fail_after_groups=1,
                           kernel_options={"remove_images": True}, **job)
    assert m["groups_run"] == 1
    with pytest.raises(ValueError) as err:
        run_extraction_job(spark, pages, out_dir, man_dir, **job)
    assert '{"remove_images": true}' in str(err.value)
    assert "this run has kernel_options {}" in str(err.value)
    assert committed_buckets(spark, man_dir) == {0, 1}
    m = run_extraction_job(spark, pages, out_dir, man_dir,
                           kernel_options={"remove_images": True}, **job)
    assert m["buckets_done_before"] == 2 and m["groups_run"] == 1
    assert spark.read.parquet(out_dir).count() == 6
    pages.unpersist()


def test_run_job_remove_images_flag_sets_the_kernel_option():
    from tools.run_job import kernel_options, parser

    base = ["--input", "in", "--output", "out", "--manifest", "m"]
    assert kernel_options(parser().parse_args(base)) == {}
    assert kernel_options(parser().parse_args(base + ["--remove-images"])) \
        == {"remove_images": True}


def test_routing_column_is_the_kernel_dispatch(spark):
    """``extractor_route`` is the registry name of the extractor
    ``find_extractor`` picks for the url: case-insensitive, with the
    registry's domain "contains" rule, whether or not that extractor can
    extract the page."""
    from defuddle_spark.dom import parse
    from defuddle_spark.extractors import find_extractor
    from defuddle_spark.spark.pipeline import extract_pages
    hn_html = b"<html><body><table class='fatitem'><tr class='athing'><td><span class='titleline'><a href='http://x'>T</a></span></td></tr></table></body></html>"
    plain = b"<html><body><article><p>hello world</p></article></body></html>"
    rows = [
        ("https://news.ycombinator.com/item?id=1", hn_html),
        ("https://example.com/post", plain),
        ("https://News.YCombinator.com/item?id=1", hn_html),
        ("https://notx.com/a", plain),
        ("https://GitHub.com/a/b/issues/1", plain),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    plain_cols = extract_pages(df, with_routing_column=False).columns
    assert extract_pages(df).columns == plain_cols + ["extractor_route"]
    out = extract_pages(df).select("url", "extractor_route", "extractor_type").collect()
    by_url = {r["url"]: r for r in out}
    assert len(by_url) == len(rows)
    for url, html in rows:
        pick = find_extractor(parse(html.decode()), url)
        want = None if pick is None else pick.name().lower()
        assert by_url[url]["extractor_route"] == want, url
    assert [by_url[u]["extractor_route"] for u, _ in rows] == [
        "hackernews", None, "hackernews", "twitter", "github"]
    assert [by_url[u]["extractor_type"] for u, _ in rows] == [
        "hackernews", None, "hackernews", None, None]


def test_extraction_plan_prunes_columns(spark):
    """Column pruning must reach the scan: only url+html read, filter pushed."""
    from defuddle_spark.spark.pages import pages_only, synthesize_pages
    from defuddle_spark.spark.pipeline import extract_pages
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pages_only(synthesize_pages(spark, SF)).write.parquet(f"{d}/pages")
        pages = spark.read.parquet(f"{d}/pages")
        plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan
        # only the two needed columns reach the scan
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "url" in read_schema and "html" in read_schema
        assert "warc_ts" not in read_schema and "lang" not in read_schema


def test_size_tiered_giant_routing(spark):
    """The deprecated giant_threshold_bytes keyword warns and leaves
    per-url results identical (FIXTURES #16)."""
    from defuddle_spark.spark.pages import synthesize_pages
    from defuddle_spark.spark.pipeline import extract_pages

    pages = synthesize_pages(spark, SF).select("url", "html").limit(60)
    # make a few pages 'giant' by padding with a huge comment blob
    pages = pages.withColumn(
        "html",
        F.when(F.xxhash64("url") % 10 == 0,
               F.concat(F.col("html"),
                        F.encode(F.concat(F.lit("<!--"),
                                          F.repeat(F.lit("pad "), 20000),
                                          F.lit("-->")), "UTF-8")))
        .otherwise(F.col("html")))
    plain = {r["url"]: r["extracted_text"]
             for r in extract_pages(pages, with_routing_column=False).collect()}
    with pytest.warns(DeprecationWarning, match="giant split was removed"):
        tiered_df = extract_pages(pages, with_routing_column=False,
                                  giant_threshold_bytes=20000,
                                  salt_partitions=8)
    tiered = {r["url"]: r["extracted_text"] for r in tiered_df.collect()}
    assert plain == tiered
    assert len(tiered) == 60


def test_selection_path_archetypes(spark):
    """The scoring (C4/C5), table (C3), and retry (C6) selection paths,
    end-to-end through the Spark pipeline — not just kernel unit tests.
    Mirrors the driver-gate oracles for extract_scored/table/retry."""
    from defuddle_spark.spark.pages import (
        RETRY_BYLINE, synthesize_retry_pages, synthesize_scored_pages,
        synthesize_table_pages)
    from defuddle_spark.spark.pipeline import extract_pages

    for synth in (synthesize_scored_pages, synthesize_table_pages):
        pages = synth(spark, SF)
        out = extract_pages(pages.select("url", "html"),
                            with_routing_column=False)
        j = out.join(pages.select("url", F.col("text").alias("expect")), "url")
        bad = j.filter((F.col("extracted_text") != F.col("expect"))
                       | F.col("error").isNotNull()).count()
        assert bad == 0, synth.__name__

    pages = synthesize_retry_pages(spark, SF)
    out = extract_pages(pages.select("url", "html"), with_routing_column=False)
    j = out.join(pages.select("url", "text", "doc_id"), "url").cache()
    # short docs (the data has none >= 200 tokens) retry and KEEP the byline
    short = j.filter(F.col("doc_id") % 4 != 0)
    assert short.filter(~F.col("retry_used")).count() == 0
    assert short.filter(F.col("extracted_text")
                        != F.concat("text", F.lit(RETRY_BYLINE))).count() == 0
    # filler docs cross the threshold: no retry, byline stays removed
    long_ = j.filter(F.col("doc_id") % 4 == 0)
    assert long_.count() > 0
    assert long_.filter(F.col("retry_used")).count() == 0
    assert long_.filter(F.col("extracted_text").contains(RETRY_BYLINE)).count() == 0
    assert long_.filter(F.col("word_count") < 200).count() == 0
    j.unpersist()


def test_giant_two_tier_byte_identity(spark):
    """Passing the deprecated giant_threshold_bytes keyword changes
    nothing: per-url results byte-identical to the call without it on a
    corpus with planted ~1MB giants."""
    from defuddle_spark.spark.pages import synthesize_giant_pages
    from defuddle_spark.spark.pipeline import extract_pages
    pages = synthesize_giant_pages(spark, "/root/testdata/sf0.001").filter(
        "doc_id < 120").select("url", "html")
    cols = ["url", "title", "content", "extracted_text", "word_count",
            "retry_used", "error"]
    one = {r["url"]: r for r in extract_pages(
        pages, with_routing_column=False).select(*cols).collect()}
    with pytest.warns(DeprecationWarning):
        two_df = extract_pages(pages, with_routing_column=False,
                               giant_threshold_bytes=100_000)
    two = {r["url"]: r for r in two_df.select(*cols).collect()}
    assert set(one) == set(two) and len(one) == 120
    assert any(len(r["extracted_text"]) > 500_000 for r in one.values())
    for url, r in one.items():
        assert tuple(r) == tuple(two[url]), url


def _final_plan(df) -> str:
    """The executed physical plan after ``df`` has run (AQE's final plan,
    without the initial plan it also prints)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_extraction_is_one_kernel_wave(spark):
    """Whatever giant_threshold_bytes says, extraction runs one
    mapInPandas over one scan of the input, with no round-robin scatter:
    on a narrow input (spread by url hash) and with an explicit
    salt_partitions."""
    from defuddle_spark.spark.pages import synthesize_pages
    from defuddle_spark.spark.pipeline import extract_pages

    pages = synthesize_pages(spark, SF).select("url", "html")
    for kw in ({}, {"salt_partitions": 8}):
        with pytest.warns(DeprecationWarning):
            out = extract_pages(pages, giant_threshold_bytes=2000, **kw)
        plan = _final_plan(out)
        nodes = [m.group(1) for m in
                 (re.match(r"[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", line)
                  for line in plan.splitlines()) if m]
        assert nodes.count("MapInPandas") == 1, (kw, plan)
        assert sum("Scan" in n for n in nodes) == 1, (kw, plan)
        assert "RoundRobinPartitioning" not in plan, (kw, plan)
        assert "hashpartitioning(xxhash64(url" in plan, (kw, plan)


def test_result_sink_dispatch(spark, tmp_path):
    """write_results: parquet path round-trips (with partitioning);
    the iceberg path refuses eagerly with the catalog checklist when no
    Iceberg catalog is configured (this sandbox), and unknown formats
    are rejected."""
    import pytest

    from defuddle_spark.spark.sinks import write_results

    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "de")], ["doc_id", "text", "lang"])
    out = str(tmp_path / "sink")
    write_results(df, out, format="parquet", partition_by=["lang"])
    back = spark.read.parquet(out)
    assert {r["doc_id"] for r in back.collect()} == {1, 2}
    assert "lang=en" in " ".join(str(p) for p in (tmp_path / "sink").iterdir())

    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_results(df, "lake.db.results", format="iceberg")
    with pytest.raises(ValueError, match="unsupported sink format"):
        write_results(df, out, format="orc2")


def test_iceberg_writer_contract(spark, tmp_path, monkeypatch):
    """The sandbox ships no Iceberg runtime, so the writeTo branch can't
    execute — pin the exact DataFrameWriterV2 call sequence instead
    (VERDICT r5 #4): partitionedBy(col(...)) before the terminal call,
    append for mode=append, createOrReplace for mode=overwrite, so a
    catalog-bound deployment can't hit a wrong-method bug the sandbox
    never ran. Also pins the ADVICE r5 catalog resolution: a dotted
    prefix WITHOUT a binding falls back to the default catalog's binding
    instead of refusing."""
    from defuddle_spark.spark.sinks import write_results

    df = spark.createDataFrame([(1, "a", "en")], ["doc_id", "text", "lang"])
    calls: list = []

    class FakeWriterV2:
        def __init__(self, table):
            calls.append(("writeTo", table))

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", tuple(str(c) for c in cols)))
            return self

        def append(self):
            calls.append(("append",))

        def createOrReplace(self):
            calls.append(("createOrReplace",))

    # patch the CONCRETE class (pyspark 4's pyspark.sql.DataFrame is an
    # abstract interface whose method the classic subclass overrides)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, table: FakeWriterV2(table))
    # bind a catalog for the dotted prefix
    spark.conf.set("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
    try:
        write_results(df, "lake.db.results", format="iceberg",
                      mode="append", partition_by=["lang"])
        assert calls == [("writeTo", "lake.db.results"),
                         ("partitionedBy", ("Column<'lang'>",)),
                         ("append",)]
        calls.clear()
        write_results(df, "lake.db.results", format="iceberg",
                      mode="overwrite")
        assert calls == [("writeTo", "lake.db.results"),
                         ("createOrReplace",)]
    finally:
        spark.conf.unset("spark.sql.catalog.lake")

    # ADVICE r5: 'db.results' where 'db' is a NAMESPACE (no catalog
    # binding) must resolve through the default catalog's binding
    calls.clear()
    spark.conf.set("spark.sql.catalog.spark_catalog",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        write_results(df, "db.results", format="iceberg", mode="append")
        assert calls == [("writeTo", "db.results"), ("append",)]
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")

    # and with no binding anywhere the refusal still fires
    import pytest
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_results(df, "db.results", format="iceberg")


def test_session_defaults_sized_from_host(monkeypatch):
    """With no env overrides, get_spark takes its cores from the CPUs
    this process may run on and a driver heap of min(16g, 60% of
    MemTotal). Pinned on the builder calls, not a live session
    (getOrCreate would reuse the suite's session)."""
    from pyspark.sql import SparkSession

    from defuddle_spark.spark import session

    assert session.default_driver_heap(15 * 1024) == "9216m"
    assert session.default_driver_heap(16070) == "9642m"
    assert session.default_driver_heap(128 * 1024) == "16384m"
    assert session.default_driver_heap(None) == "16384m"

    captured = {}

    class _Recorder:
        def master(self, m):
            captured["master"] = m
            return self

        def appName(self, *_):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            return "session-sentinel"

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "host_resources", lambda: (3, 15 * 1024))
    monkeypatch.setattr(SparkSession, "builder", _Recorder())
    assert session.get_spark() == "session-sentinel"
    assert captured["master"] == "local[3]"
    assert captured["spark.driver.memory"] == "9216m"
    assert captured["spark.sql.shuffle.partitions"] == "8"
    # the env overrides still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    session.get_spark()
    assert captured["master"] == "local[5]"
    assert captured["spark.driver.memory"] == "2g"


def test_unknown_kernel_option_raises_before_any_job(spark):
    """A misspelled kernel option fails in extract_pages itself, before a
    plan exists, instead of in every Python task at action time."""
    from defuddle_spark.spark.pipeline import extract_pages

    pages = spark.createDataFrame([("https://x.test/a", b"<html></html>")],
                                  "url string, html binary")
    with pytest.raises(TypeError, match="no_such"):
        extract_pages(pages, kernel_options={"no_such": 1})


@pytest.mark.parametrize("py_files", [False, True], ids=["local", "py_files"])
def test_stage_function_leaves_no_zip_importer_to_rescan(spark, tmp_path,
                                                          py_files):
    """PySpark invalidates the import caches at every task start, which
    on CPython < 3.13 re-reads the directory of every cached zipimporter.
    The extraction stage function drops them, so from a worker's second
    task on none is cached at entry. With ``py_files`` the package also
    ships as a zip through ``addPyFile`` (the ``spark-submit
    --py-files`` deployment), which puts its own zip on every worker's
    path."""
    import sys
    import zipfile

    import pandas as pd

    from defuddle_spark.kernel import Options
    from defuddle_spark.spark.pipeline import RESULT_SCHEMA, _extract_batches

    zip_name = "defuddle_spark_pyfiles.zip"
    if py_files:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_path = str(tmp_path / zip_name)
        with zipfile.ZipFile(zip_path, "w") as zf:
            for d, _, files in os.walk(os.path.join(root, "defuddle_spark")):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(d, f)
                        zf.write(full, os.path.relpath(full, root))
        driver_path = list(sys.path)
        # stays on the suite's workers for good; it holds the same
        # package, which they import from the repo first anyway
        spark.sparkContext.addPyFile(zip_path)
        sys.path[:] = driver_path  # only the workers need the zip
    options, fields = Options(), RESULT_SCHEMA.fieldNames()

    def probe(batches):
        import importlib.util
        import os
        import sys
        import time
        import zipimport
        cached = sum(isinstance(f, zipimport.zipimporter)
                     for f in sys.path_importer_cache.values())
        entered = time.monotonic_ns()
        # a lookup that misses walks every path entry and caches a
        # finder for each, the package's own zip included
        assert importlib.util.find_spec("defuddle_spark_no_such") is None
        zip_cached = sum(p.endswith(zip_name) and
                         isinstance(f, zipimport.zipimporter)
                         for p, f in sys.path_importer_cache.items())
        for _ in _extract_batches(batches, options, fields):
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()], "entered": [entered], "cached": [cached],
            "zip_cached": [zip_cached]})

    pages = spark.range(0, 12, 1, 12).select(
        F.concat(F.lit("https://x.test/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit("<html><body><p>one</p></body></html>").cast("binary")
        .alias("html"))
    rows = (pages.mapInPandas(
        probe, "pid long, entered long, cached long, zip_cached long")
        .toPandas().sort_values(["pid", "entered"]))
    assert len(rows) == 12
    assert (rows["zip_cached"] == int(py_files)).all()
    later = rows[rows.duplicated("pid")]  # each worker's second task on
    assert len(later) > 0
    assert later["cached"].tolist() == [0] * len(later)


_TEARDOWN_SCRIPT = """
import os, sys, tempfile
root, bench = sys.argv[1], sys.argv[2]
sys.path[:0] = [root, bench]
from defuddle_spark.spark.session import get_spark
from defuddle_spark.spark.pipeline import extract_pages
from defuddle_spark.spark.streaming import DOCS_SCHEMA, dedup_exact_stream
import harness

spark = get_spark(cores=2)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.createDataFrame(
    [(f"https://x.test/{i}", b"<html><body><p>page</p></body></html>")
     for i in range(8)], "url string, html binary")
assert extract_pages(pages).count() == 8
tmp = tempfile.mkdtemp()
spark.createDataFrame([(i, f"t{i % 3}") for i in range(6)],
                      DOCS_SCHEMA).write.parquet(f"{tmp}/in")
q = dedup_exact_stream(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
q.awaitTermination()
assert spark.read.parquet(f"{tmp}/out").count() == 3
harness.stop_jvm()
"""


def _session_members(sid: int) -> list:
    """Live (non-zombie) processes whose session id is ``sid``."""
    members = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            members.append(int(name))
    return members


def test_no_process_outlives_a_run(tmp_path):
    """A run of its own (extraction plus one applyInPandasWithState
    stage on local[2]) that stops the gateway the way perfbench does
    leaves no process behind: 5 s after it exits, nothing of its session
    (the JVM, the pyspark daemon, forked workers, or anything they
    started) is alive. Output goes to a file, not a pipe, so a leftover
    holding the pipe cannot make the wait outlast it."""
    import subprocess
    import sys
    import time

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    log = tmp_path / "run.log"
    with open(log, "wb") as out:
        proc = subprocess.Popen(
            [sys.executable, "-c", _TEARDOWN_SCRIPT, root,
             os.path.join(root, "perfbench")],
            cwd=root, env=env, start_new_session=True,
            stdout=out, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=600)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert proc.returncode == 0, log.read_text(errors="replace")[-3000:]
    time.sleep(5)
    assert _session_members(proc.pid) == []
