"""Structured Streaming front-end for the extraction pipeline.

The reference is batch-only (no streaming constructs anywhere —
SURVEY.md §1.3), and the north_rule's resume story rides checkpointed
batch commits. This module is the Spark-native *extension* for
continuously-arriving crawl output: a file-source stream over the pages
table directory → the same Arrow-batch kernel → parquet sink with a
checkpoint. Because ``mapInPandas`` is stateless per-row work, the batch
and streaming plans share every operator; exactly-once lands on the sink
checkpoint instead of the manifest protocol.

At crawl scale the source would be Kafka/Kinesis of WARC pointers; the
file source keeps the sandbox self-contained.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StringType,
                               StructField, StructType, TimestampType)

from .pipeline import extract_pages
from .session import drop_zip_importers

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def _with_files_per_trigger(reader, max_files_per_trigger: Optional[int]):
    """Apply maxFilesPerTrigger, rejecting non-positive values eagerly:
    a truthiness test would silently read an explicit 0 as "no limit",
    draining the whole directory in one micro-batch — which in the
    watermark-dedup op means the watermark never advances between staged
    files and eviction silently never runs."""
    if max_files_per_trigger is None:
        return reader
    if max_files_per_trigger <= 0:
        raise ValueError("max_files_per_trigger must be positive "
                         f"(got {max_files_per_trigger}); pass None for "
                         "no per-trigger limit")
    return reader.option("maxFilesPerTrigger", str(max_files_per_trigger))


def _start(df, output_dir: str, checkpoint_dir: str, available_now: bool):
    """Start ``df`` as an append-mode parquet stream into ``output_dir``;
    ``available_now`` drains the input present now and stops."""
    writer = (df.writeStream.format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_pages_stream(spark: SparkSession, input_dir: str, output_dir: str,
                         checkpoint_dir: str,
                         available_now: bool = True,
                         max_files_per_trigger: Optional[int] = None):
    """Start (or run-to-completion with availableNow) a streaming extraction.

    Returns the StreamingQuery. ``available_now=True`` drains everything
    currently in ``input_dir`` and stops — the test/bench mode; pass False
    for a continuously running job.
    """
    reader = (spark.readStream.schema(PAGES_SCHEMA))
    reader = _with_files_per_trigger(reader, max_files_per_trigger)
    pages = reader.parquet(input_dir)

    result = extract_pages(pages.select("url", "html"), with_routing_column=True)

    return _start(result, output_dir, checkpoint_dir, available_now)


EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def windowed_counts_stream(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           watermark: str = "10 minutes",
                           window: str = "1 hour",
                           available_now: bool = True):
    """Watermarked tumbling-window event stats on a stream — the
    streaming twin of ops.events.windowed_counts.

    Late data within ``watermark`` folds into its window; in append mode
    a window emits once the watermark passes its end, so with
    availableNow the trailing window(s) stay pending until later input
    advances the watermark (standard Structured Streaming semantics —
    the test plants a flush event past the horizon).
    n_users is approx_count_distinct: exact distinct aggregation is not
    available in streaming aggregations.
    """
    from pyspark.sql import functions as F

    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    agg = (events
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.round(F.avg(F.col("value").cast("double")), 6)
                 .alias("avg_value"),
                F.approx_count_distinct("user_id").alias("n_users_approx"))
           .select(F.col("w.start").alias("window_start"), "event_type",
                   "n_events", "avg_value", "n_users_approx"))
    return _start(agg, output_dir, checkpoint_dir, available_now)


def sessionize_stream(spark: SparkSession, input_dir: str, output_dir: str,
                      checkpoint_dir: str, gap_minutes: int = 30,
                      watermark: str = "10 minutes",
                      available_now: bool = True):
    """Per-user session windows on a stream via the built-in
    ``session_window`` (gap-merged state windows) — the streaming twin
    of ops.events.sessionize. A session emits once the watermark passes
    its close (last event + gap)."""
    from pyspark.sql import functions as F

    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    agg = (events
           .withWatermark("ts", watermark)
           .groupBy("user_id",
                    F.session_window("ts", f"{gap_minutes} minutes")
                     .alias("sw"))
           .agg(F.count("*").alias("session_events"))
           .select("user_id", F.col("sw.start").alias("session_start"),
                   "session_events"))
    return _start(agg, output_dir, checkpoint_dir, available_now)


DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])

_DEDUP_OUT_SCHEMA = "text_md5 string, doc_id bigint"
_DEDUP_STATE_SCHEMA = "min_id bigint"


def _ttl_timeout_conf(state_ttl_ms, available_now):
    """Validate TTL configuration EAGERLY (the executor-side failures are
    opaque StreamingQueryExceptions after startup) and return the
    GroupStateTimeout to use — the shared half of both stateful ops'
    sliding-TTL plumbing."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_ttl_ms is None:
        return GroupStateTimeout.NoTimeout
    if state_ttl_ms <= 0:
        raise ValueError(
            f"state_ttl_ms must be positive (got {state_ttl_ms}): "
            "GroupState.setTimeoutDuration rejects non-positive "
            "durations in the executor.")
    if available_now:
        raise ValueError(
            "state_ttl_ms requires available_now=False: processing-time "
            "timeouts keep an availableNow drain scheduling timer batches "
            "forever (it never self-terminates); run TTL mode as a "
            "continuous query and stop it explicitly.")
    return GroupStateTimeout.ProcessingTimeTimeout


def dedup_exact_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str,
                       available_now: bool = True,
                       max_files_per_trigger: Optional[int] = None,
                       state_ttl_ms: Optional[int] = None):
    """Streaming exact dedup: emit each content hash's FIRST-seen doc,
    suppressing every later arrival — the incremental-ingest twin of
    ops.dedup.dedup_exact, built on applyInPandasWithState (custom
    per-key state in the state store, not a built-in windowed agg).

    Per md5(text) group: the first micro-batch containing the hash emits
    (text_md5, min doc_id in that batch) and records it in state; any
    later batch's rows for the same hash emit nothing.

    State lifecycle (the crawl-scale sizing story): the default
    ``state_ttl_ms=None`` keeps one 16-byte-keyed row per distinct
    document FOREVER — the only semantics that makes global dedup exact,
    and the same cardinality the batch groupBy shuffles; a real
    deployment backs it with the RocksDB state store —
    ``get_spark(rocksdb_state_store=True)`` applies the pinned conf
    (session.ROCKSDB_STATE_CONF: provider class + changelog
    checkpointing), exercised for real in tests/test_streaming.py — so
    state spills to executor disk at
    ~10^12 keys instead of living on the JVM heap, and the differential
    test asserts the one-row-per-distinct-hash metric via
    ``lastProgress.stateOperators.numRowsTotal``. Setting ``state_ttl_ms``
    switches to a processing-time sliding TTL: every sighting of a hash
    refreshes its timer, and a hash unseen for the TTL is EVICTED — a
    duplicate arriving after eviction re-emits (bounded-state / bounded-
    recall tradeoff, the standard window-dedup compromise; eviction is
    pinned by test). Timers fire on the next micro-batch after expiry.

    TTL mode requires a CONTINUOUS query (``available_now=False``):
    with the availableNow trigger the engine keeps scheduling
    timer-check batches even after every key is evicted, so the drain
    never self-terminates (measured on this Spark: state hits 0 rows in
    batch 1, batches keep running past 40) — the combination is refused
    eagerly rather than hanging the caller.
    """
    timeout = _ttl_timeout_conf(state_ttl_ms, available_now)

    def first_seen(key, pdfs, state):
        import pandas as pd
        drop_zip_importers()
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # cold hash: evict; later dupes re-emit
            return
        best = None
        for pdf in pdfs:
            m = int(pdf["doc_id"].min())
            best = m if best is None or m < best else best
        if state.exists:
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)  # sliding TTL
            return  # hash already emitted in an earlier batch: suppress
        state.update((best,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"text_md5": [key[0]], "doc_id": [best]})

    from pyspark.sql import functions as F

    reader = spark.readStream.schema(DOCS_SCHEMA)
    reader = _with_files_per_trigger(reader, max_files_per_trigger)
    docs = reader.parquet(input_dir)
    out = (docs
           .withColumn("text_md5", F.md5(F.encode(F.col("text"), "UTF-8")))
           .groupBy("text_md5")
           .applyInPandasWithState(
               first_seen, _DEDUP_OUT_SCHEMA, _DEDUP_STATE_SCHEMA,
               "append", timeout))
    return _start(out, output_dir, checkpoint_dir, available_now)


DOCS_TS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("ts", TimestampType()),
])


def dedup_exact_stream_watermark(spark: SparkSession, input_dir: str,
                                 output_dir: str, checkpoint_dir: str,
                                 dedup_window_ms: int = 3_600_000,
                                 watermark_delay: str = "1 second",
                                 available_now: bool = True,
                                 max_files_per_trigger: Optional[int] = None):
    """Streaming exact dedup with EVENT-TIME (watermark-keyed) eviction —
    the batch-drain-capable sibling of ``dedup_exact_stream(state_ttl_ms=)``
    (whose processing-time timers cannot run under availableNow; see its
    docstring for the measured engine finding).

    Semantics (the ``dropDuplicatesWithinWatermark`` shape, with a
    deterministic representative): per content hash, the first sighting
    emits ``(text_md5, min doc_id in that batch)``; later sightings are
    suppressed while the hash is LIVE and slide its expiry forward
    (``last event time + dedup_window_ms``, the sliding semantics of the
    TTL op). A hash whose expiry falls behind the watermark is evicted —
    by an EventTimeTimeout firing on a later batch when the key is quiet,
    or inline when new data arrives for an already-expired key, which then
    RE-EMITS (bounded state / bounded recall, the window-dedup
    compromise). Because event-time timeouts are driven by watermark
    advancement from data batches — not wall-clock timers — an
    availableNow drain terminates normally, so the same operator serves
    backfill-then-stream deployments.

    State: one (min_id, expires_ms) row per LIVE hash — bounded by the
    distinct-hash arrival rate within the window rather than corpus size;
    back with RocksDB at crawl scale (see dedup_exact_stream).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    if dedup_window_ms <= 0:
        raise ValueError(
            f"dedup_window_ms must be positive (got {dedup_window_ms})")

    def first_seen(key, pdfs, state):
        import pandas as pd
        drop_zip_importers()
        if state.hasTimedOut:
            state.remove()  # quiet expired hash: evict; later dupes re-emit
            return
        wm = state.getCurrentWatermarkMs()
        best = None
        max_ts_ms = None  # true max, valid for pre-epoch (negative) ts too
        for pdf in pdfs:
            m = int(pdf["doc_id"].min())
            best = m if best is None or m < best else best
            t = int(pdf["ts_ms"].max())
            max_ts_ms = t if max_ts_ms is None else max(max_ts_ms, t)
        expires = max_ts_ms + dedup_window_ms
        if state.exists:
            old_min, old_exp = state.get
            if old_exp > wm:  # live: suppress and slide the expiry
                new_exp = max(int(old_exp), expires)
                state.update((int(old_min), new_exp))
                state.setTimeoutTimestamp(max(new_exp, wm + 1))
                return
            # expired key receiving data in the same batch the watermark
            # passed it: treat as evicted and fall through to re-emit
        state.update((best, expires))
        # a straggler row can carry expires <= wm; the timeout timestamp
        # must exceed the watermark, so clamp (the key then evicts on the
        # very next watermark advance)
        state.setTimeoutTimestamp(max(expires, wm + 1))
        yield pd.DataFrame({"text_md5": [key[0]], "doc_id": [best]})

    reader = spark.readStream.schema(DOCS_TS_SCHEMA)
    reader = _with_files_per_trigger(reader, max_files_per_trigger)
    docs = reader.parquet(input_dir)
    out = (docs
           .withWatermark("ts", watermark_delay)
           .withColumn("text_md5", F.md5(F.encode(F.col("text"), "UTF-8")))
           # epoch millis via double cast: timezone-independent (pandas
           # datetime64 values are session-tz-localized, epoch casts are not)
           .withColumn("ts_ms",
                       (F.col("ts").cast("double") * 1000).cast("long"))
           .groupBy("text_md5")
           .applyInPandasWithState(
               first_seen, _DEDUP_OUT_SCHEMA,
               "min_id bigint, expires_ms bigint",
               "append", GroupStateTimeout.EventTimeTimeout))
    return _start(out, output_dir, checkpoint_dir, available_now)


def minhash_lsh_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str, num_perm: int = 64,
                       bands: int = 16, shingle_k: int = 3,
                       hot_bucket_cap: int = 1000,
                       available_now: bool = True,
                       max_files_per_trigger: Optional[int] = None,
                       state_ttl_ms: Optional[int] = None):
    """Streaming MinHash-LSH near-dup candidates: incremental-ingest
    twin of ops.dedup.minhash_lsh_candidates.

    Per document (row-local, no shuffle before the stateful stage): the
    bit-identical minhash signature and band hashes are computed with
    array expressions (minhash_signature_col / band_hash_col); rows then
    group by (band, band_hash) into applyInPandasWithState, whose state
    is the bucket's member list — each NEW member emits one (id_a, id_b)
    candidate against every EXISTING member, across micro-batches.

    Hot-bucket semantics differ from batch BY NECESSITY: batch drops an
    over-cap bucket wholesale, but a stream cannot retract already
    emitted pairs, so a bucket saturates at ``hot_bucket_cap`` members
    and emits nothing further (state stays bounded at cap ids/bucket).
    Under the cap the emitted pair set (distinct across bands) equals
    the batch candidate set exactly — pinned by differential test.

    State lifecycle: default ``state_ttl_ms=None`` keeps every bucket's
    member list forever (≤ ``hot_bucket_cap`` ids per (band, band_hash)
    key — bounded per key, corpus-proportional in key count); back with
    the RocksDB state store at crawl scale (see dedup_exact_stream's
    sizing note). ``state_ttl_ms`` enables a sliding processing-time TTL
    per bucket: a bucket untouched for the TTL is evicted wholesale, so
    later arrivals pair only against post-eviction members (bounded
    state / bounded recall against COLD buckets; hot buckets refresh
    their timer on every arrival). TTL mode requires a continuous query
    (``available_now=False``) — see dedup_exact_stream's note on the
    availableNow/timeout interaction.
    """
    from pyspark.sql import functions as F
    timeout = _ttl_timeout_conf(state_ttl_ms, available_now)

    from defuddle_spark.ops.dedup import band_hash_col, minhash_signature_col

    def emit_pairs(key, pdfs, state):
        import pandas as pd
        drop_zip_importers()
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # cold bucket: evict members wholesale
            return
        if state.exists:
            members, saturated = list(state.get[0]), bool(state.get[1])
        else:
            members, saturated = [], False
        known = set(members)
        out_a, out_b = [], []
        for pdf in pdfs:
            for x in pdf["doc_id"]:
                nid = int(x)
                if nid in known:
                    continue
                if saturated or len(members) >= hot_bucket_cap:
                    saturated = True
                    break
                for m in members:
                    out_a.append(min(m, nid))
                    out_b.append(max(m, nid))
                members.append(nid)
                known.add(nid)
        state.update((members, saturated))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)  # sliding TTL
        if out_a:
            yield pd.DataFrame({"band": [int(key[0])] * len(out_a),
                                "id_a": out_a, "id_b": out_b})

    reader = spark.readStream.schema(DOCS_SCHEMA)
    reader = _with_files_per_trigger(reader, max_files_per_trigger)
    docs = reader.parquet(input_dir)
    banded = (docs
              .select("doc_id",
                      minhash_signature_col("text", num_perm, shingle_k)
                      .alias("sig"))
              .select("doc_id",
                      F.posexplode(band_hash_col("sig", num_perm, bands))
                      .alias("band", "band_hash")))
    out = (banded
           .groupBy("band", "band_hash")
           .applyInPandasWithState(
               emit_pairs, "band int, id_a bigint, id_b bigint",
               "members array<bigint>, saturated boolean",
               "append", timeout))
    return _start(out, output_dir, checkpoint_dir, available_now)
