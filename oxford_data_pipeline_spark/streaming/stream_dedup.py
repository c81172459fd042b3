"""Streaming deduplication — exact dedup as documents ARRIVE, the
online form of `dedup_exact`.

Each incoming document gets the engine's content fingerprint
(md5 of normalized text); `dropDuplicates` on the fingerprint keeps
first-seen rows with state in the state store. With an event-time
column + `dropDuplicatesWithinWatermark`, state is bounded by the
watermark horizon — the production shape for continuous ingest where
re-crawls arrive within a bounded window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.operators.textops import normalized
from oxford_data_pipeline_spark.streaming.maintain import maintenance_stream


def fingerprinted(stream: DataFrame) -> DataFrame:
    """Attach the exact-dedup fingerprint to a document stream."""
    return stream.withColumn("exact_fp", F.md5(normalized("text")))


def dedup_stream(stream: DataFrame) -> DataFrame:
    """First-seen-wins streaming dedup (unbounded state: use only when
    the fingerprint space is bounded or the run is finite)."""
    return fingerprinted(stream).dropDuplicates(["exact_fp"])


def dedup_stream_within_watermark(
    stream: DataFrame, ts_col: str = "event_ts", delay: str = "1 hour"
) -> DataFrame:
    """Watermark-bounded streaming dedup: duplicates are suppressed if
    they arrive within the watermark horizon of the first sighting;
    state for older fingerprints is evicted — bounded memory forever."""
    return (
        fingerprinted(stream)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["exact_fp"])
    )


def url_dedup_stream(
    stream: DataFrame,
    url_col: str = "source",
    ts_col: str = "event_ts",
    delay: str = "1 hour",
    id_col: str = "doc_id",
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """URL-tier streaming dedup — the online form of `dedup_url`, the
    FIRST pass of a continuous crawl ingest: each arriving capture is
    keyed by its NORMALIZED URL (`operators/urlops.py` — scheme / www /
    fragment / tracking-param / port / trailing-slash noise removed
    scan-locally) and first-seen-wins within the watermark horizon,
    exactly as a re-crawl window works in production (the recrawl of a
    page arrives within the horizon and is suppressed; state for older
    URLs is evicted — bounded memory forever).  Runs BEFORE content
    fingerprinting, so recrawled bytes never reach the content tier.

    Two contract points: (1) rows WITHOUT a real URL (the WARC
    connector coalesces a missing WARC-Target-URI to its corpus label,
    so their "URLs" all normalize identically) are keyed by `id_col`
    instead — URL dedup must never collapse distinct URI-less
    documents; they fall through to the content-tier dedup.  (2)
    first-SEEN wins at micro-batch granularity: across batches the
    earlier batch's row is kept, but within one micro-batch Spark's
    dropDuplicates keeps an arbitrary representative — the batch
    keep-rule (min doc_id, `dedup_url`) is applied by
    `compact_url_survivors` below, re-resolving the survivor set
    against the maintained keeper relation
    (`url_keeper_maintenance_stream`).

    `blocklist` (a small batch relation with a `host` column — the
    `cur_domain_blocklist` admission gate) is broadcast-anti-joined on
    the normalized host BEFORE the dedup state store: blocked hosts
    must never be admitted OR enter state — the batch twin drops them
    before any content processing, and the stream does the same."""
    from oxford_data_pipeline_spark.operators.urlops import normalize_urls

    normed = normalize_urls(stream, url_col=url_col)
    if blocklist is not None:
        normed = normed.join(
            F.broadcast(blocklist.select("host")), "host", "left_anti"
        )
    return (
        normed.withColumn("_url_key", _url_key(id_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["_url_key"])
        .drop("_url_key")
    )


def _url_key(id_col: str = "doc_id"):
    """The URL-tier dedup key over a `normalize_urls` output: the
    normalized URL for real (dotted-host) URLs; URI-less rows (the
    WARC connector's corpus-label fallback) key by `id_col` so
    distinct documents never collapse."""
    return F.when(
        F.col("host").contains("."), F.col("norm_url")
    ).otherwise(F.concat(F.lit("#nourl#"), F.col(id_col).cast("string")))


# --------------------------------------------------------------------------
# URL-tier compaction (the batch keep-rule, executed)
# --------------------------------------------------------------------------
# `url_dedup_stream` keeps ONE representative per normalized URL, but
# within a micro-batch Spark's dropDuplicates keeps an ARBITRARY one —
# not the batch keep-rule (min doc_id, `dedup_url_survivors`), so
# compaction must execute that rule.  These three functions close
# the loop the way the host-count maintainer does (stream_curation):
# a per-batch keeper DELTA (min-doc_id per key — associative), a
# merge that folds deltas into the maintained keeper relation, and
# the compaction itself: re-resolve the streamed survivors' keys
# against the maintained relation, emitting exactly the batch
# `dedup_url_survivors` rows.  At scale every piece is one hash
# aggregation or one co-partitioned equi-join on the url key; the
# maintained relation is one row per distinct URL (corpus-distinct,
# never corpus-sized-per-capture).


def url_keeper_delta(
    batch: DataFrame, url_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Per-micro-batch keeper delta: min-doc_id row per url key, with
    the survivor attributes (`host`, `norm_url`, `n_chars`) carried
    via min_by.  Associative — merge order never matters."""
    from oxford_data_pipeline_spark.operators.urlops import normalize_urls

    if "n_chars" not in batch.columns:
        batch = batch.withColumn("n_chars", F.length("text").cast("long"))
    normed = normalize_urls(batch, url_col=url_col)
    n = normed.withColumn("_url_key", _url_key(id_col))
    return n.groupBy("_url_key").agg(
        F.min_by(
            F.struct(id_col, "host", "norm_url", "n_chars"), F.col(id_col)
        ).alias("s")
    ).select("_url_key", "s.*")


def merge_keepers(
    maintained: DataFrame,
    delta: DataFrame,
    key_col: str,
    attr_cols: list[str],
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Fold a keeper delta into a maintained keeper relation:
    full-outer on `key_col`, lexicographically-smallest `order_cols`
    wins (default: smaller doc_id), `attr_cols` travel with the
    winner.  Merge-equal to recomputing from scratch (min is
    associative + commutative) — the shared core of the URL-tier,
    content-tier and paragraph-tier keeper maintainers."""
    m = maintained.alias("m")
    d = delta.alias("d")
    take_m = F.col(f"d.{key_col}").isNull() | (
        F.col(f"m.{key_col}").isNotNull()
        & (
            F.struct(*[F.col(f"m.{c}") for c in order_cols])
            <= F.struct(*[F.col(f"d.{c}") for c in order_cols])
        )
    )
    pick = lambda c: F.when(take_m, F.col(f"m.{c}")).otherwise(F.col(f"d.{c}"))  # noqa: E731
    return m.join(
        d, F.col(f"m.{key_col}") == F.col(f"d.{key_col}"), "full_outer"
    ).select(
        F.coalesce(f"m.{key_col}", f"d.{key_col}").alias(key_col),
        pick("doc_id").alias("doc_id"),
        *[pick(c).alias(c) for c in attr_cols],
    )


def merge_url_keepers(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a keeper delta into the maintained URL-keeper relation:
    full-outer on the url key, smaller doc_id wins."""
    return merge_keepers(
        maintained, delta, "_url_key", ["host", "norm_url", "n_chars"]
    )


def url_keeper_maintenance_stream(stream: DataFrame, sink, url_col: str = "source"):
    """Keeper maintenance query (`maintenance_stream`): each micro-batch
    becomes a keeper delta handed to `sink(delta, batch_id)`, which
    merges it with `merge_url_keepers`."""
    return maintenance_stream(
        stream, lambda batch: url_keeper_delta(batch, url_col=url_col), sink
    )


def compact_url_survivors(
    survivors: DataFrame, keepers: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """THE compaction step `url_dedup_stream` documents: re-resolve the
    streamed survivor set to the batch keep-rule (min doc_id) using
    the maintained keeper relation.  The survivors determine the key
    set (what the stream admitted); the keeper relation supplies the
    batch-canonical representative for each key — so
    streamed-then-compacted equals `dedup_url_survivors` on the same
    input regardless of which arbitrary within-batch representative
    the state store kept.  One distinct + one co-partitioned equi-join
    on the url key."""
    keys = (
        survivors.withColumn("_url_key", _url_key(id_col))
        .select("_url_key")
        .distinct()
    )
    return keepers.join(keys, "_url_key").select(
        "doc_id", "host", "norm_url", "n_chars"
    )


def paragraph_dedup_stream(
    stream: DataFrame,
    ts_col: str = "event_ts",
    delay: str = "1 hour",
    min_tokens: int = 3,
) -> DataFrame:
    """Paragraph-tier streaming dedup — the online form of
    `dedup_paragraph`: each arriving document is segmented with the
    SAME content-defined boundaries as the batch query
    (`paragraph_array` — scan-local array algebra, so online/offline
    segmentation cannot drift), sub-threshold paragraphs pass through
    unhashed, and hashed paragraphs are first-seen-wins within the
    watermark horizon.  The output is the NOVEL-paragraph stream (one
    row per first sighting: doc_id, para_idx, para, para_fp) that a
    continuous training-data assembly consumes; repeated boilerplate
    arriving later is suppressed while its state lives, evicted after
    the horizon — bounded memory forever.  The batch keep-rule (first
    (doc_id, para_idx) occurrence) is re-resolved by
    `compact_paragraph_survivors` below against the maintained keeper
    relation — streamed-then-compacted equals
    `dedup_paragraph_survivors`' keeper set (twin-tested)."""
    from oxford_data_pipeline_spark.operators.textops import (
        normalized,
        paragraph_array,
        tokens,
    )

    toks = stream.withColumn("t", tokens(normalized(F.col("text")))).filter(
        F.size("t") > 0
    )
    paras = toks.select(
        "doc_id",
        ts_col,
        F.posexplode(paragraph_array(F.col("t"))).alias("para_idx", "para"),
    ).withColumn("n_toks", F.size(F.split(F.col("para"), " ")))
    key = F.when(
        F.col("n_toks") >= min_tokens, F.md5("para")
    ).otherwise(
        F.concat(
            F.lit("#short#"),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            F.col("para_idx").cast("string"),
        )
    )
    return (
        paras.withColumn("para_fp", key)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["para_fp"])
    )


def paragraph_keeper_delta(batch: DataFrame, min_tokens: int = 3) -> DataFrame:
    """Per-micro-batch paragraph keeper delta: the lexicographically
    first (doc_id, para_idx) occurrence per hashed paragraph
    fingerprint — `dedup_paragraph_survivors`' keep-rule, computed on
    the batch's own rows.  Associative (min over a struct), so deltas
    merge in any order."""
    from oxford_data_pipeline_spark.operators.textops import (
        normalized,
        paragraph_array,
        tokens,
    )

    toks = batch.withColumn("t", tokens(normalized(F.col("text")))).filter(
        F.size("t") > 0
    )
    paras = toks.select(
        "doc_id",
        F.posexplode(paragraph_array(F.col("t"))).alias("para_idx", "para"),
    ).withColumn("n_toks", F.size(F.split(F.col("para"), " ")))
    return (
        paras.filter(F.col("n_toks") >= min_tokens)
        .groupBy(F.md5("para").alias("_pfp"))
        .agg(
            F.min_by(
                F.struct("doc_id", "para_idx", "para"),
                F.struct("doc_id", "para_idx"),
            ).alias("s")
        )
        .select("_pfp", "s.*")
    )


def merge_paragraph_keepers(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a paragraph keeper delta into the maintained relation:
    full-outer on the paragraph fingerprint, lexicographically-first
    (doc_id, para_idx) wins — the composite keep-rule the batch
    survivors query uses (a doc can repeat a paragraph internally, so
    doc_id alone cannot break the tie)."""
    return merge_keepers(
        maintained, delta, "_pfp", ["para_idx", "para"],
        order_cols=("doc_id", "para_idx"),
    )


def paragraph_keeper_maintenance_stream(stream: DataFrame, sink,
                                        min_tokens: int = 3):
    """Paragraph keeper maintenance query (`maintenance_stream`): each
    micro-batch becomes a keeper delta handed to `sink(delta,
    batch_id)`, merged with `merge_paragraph_keepers`."""
    return maintenance_stream(
        stream,
        lambda batch: paragraph_keeper_delta(batch, min_tokens=min_tokens),
        sink,
    )


def compact_paragraph_survivors(
    novel: DataFrame, keepers: DataFrame
) -> DataFrame:
    """THE compaction step for `paragraph_dedup_stream`: re-resolve the
    streamed novel-paragraph set to the batch keep-rule (first
    (doc_id, para_idx) occurrence) using the maintained keeper
    relation.  The streamed set determines WHICH paragraph
    fingerprints were admitted (state-store semantics: an arbitrary
    within-horizon representative); the keeper relation supplies the
    batch-canonical occurrence for each — so streamed-then-compacted
    equals `dedup_paragraph_survivors`' keeper relation on the same
    input.  Sub-threshold paragraphs (synthetic `#short#` keys, never
    hashed or deduplicated) pass through 1:1.  One distinct + one
    co-partitioned equi-join on the fingerprint."""
    hashed = novel.filter(~F.col("para_fp").startswith("#short#"))
    keys = hashed.select(F.col("para_fp").alias("_pfp")).distinct()
    canonical = keepers.join(keys, "_pfp").select(
        "doc_id", "para_idx", "para"
    )
    passthrough = novel.filter(
        F.col("para_fp").startswith("#short#")
    ).select("doc_id", "para_idx", "para")
    return canonical.unionByName(passthrough)


# Content-tier compaction — the same closure for `dedup_stream` /
# `dedup_stream_within_watermark` that the URL tier has above: within
# a micro-batch the state store keeps an ARBITRARY representative per
# exact fingerprint; the batch keep-rule (min doc_id per exact_fp —
# `dedup_exact`'s materialization convention) is re-resolved at
# compaction against a maintained fingerprint-keeper relation.


def content_keeper_delta(batch: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-micro-batch content keeper delta: min-doc_id row per exact
    fingerprint, carrying n_chars.  Associative."""
    b = fingerprinted(batch)
    if "n_chars" not in b.columns:
        b = b.withColumn("n_chars", F.length("text").cast("long"))
    return b.groupBy(F.col("exact_fp").alias("_fp")).agg(
        F.min_by(F.struct(id_col, "n_chars"), F.col(id_col)).alias("s")
    ).select("_fp", "s.*")


def content_keeper_maintenance_stream(stream: DataFrame, sink):
    """Content keeper maintenance query (`maintenance_stream`), merged
    with `merge_content_keepers`."""
    return maintenance_stream(stream, content_keeper_delta, sink)


def merge_content_keepers(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a content keeper delta into the maintained relation."""
    return merge_keepers(maintained, delta, "_fp", ["n_chars"])


def compact_content_survivors(
    survivors: DataFrame, keepers: DataFrame
) -> DataFrame:
    """Re-resolve streamed exact-dedup survivors to the batch
    keep-rule: the survivor set supplies the admitted fingerprint
    keys, the maintained keeper relation the min-doc_id
    representative — streamed-then-compacted equals the batch
    min-doc_id-per-fingerprint rule on the same input."""
    keys = survivors.select(F.col("exact_fp").alias("_fp")).distinct()
    return keepers.join(keys, "_fp").select(
        F.col("_fp").alias("exact_fp"), "doc_id", "n_chars"
    )
