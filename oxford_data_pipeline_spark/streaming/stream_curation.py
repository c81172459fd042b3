"""Streaming curation pipeline — the quality gate CHAINED into the
stateful near-dup matcher: the streaming twin of the batch
`cur_pipeline` composition (`plans/curation.py`).

Topology (one streaming plan, one state store):

    raw crawl stream (doc_id, source, text, event_ts)
      -> quality admission   [stateless projection: PII + C4 gates,
                              `stream_quality.quality_gate` columns]
      -> admitted docs only
      -> MinHash band rows   [stateless, codegen — bit-identical to
                              the batch signatures]
      -> keyed dedup state   [`stream_neardup._match`: one group per
                              (band, sig), watermark-evicted]
      -> near-dup candidate rows

Rejected documents never create dedup state — the gate runs BEFORE
the shuffle to (band, sig) groups, so a PII-bearing or boilerplate
crawl wave costs only its scan, exactly like the batch pipeline's
gate-then-dedup stage order.  At 100 TB/day ingest this ordering is
the difference between state sized by the ADMITTED corpus and state
sized by the raw crawl.

A streaming query has one sink; the quarantine side (rejected rows +
reasons) is therefore a SECOND query over the same source — Spark
shares the source files, each query keeps its own checkpoint — or a
`foreachBatch` fan-out when both sinks must commit atomically.
`quarantine_stream` builds the rejected-side plan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.plans.quality import (
    with_c4_features,
    with_pii_features,
)
from oxford_data_pipeline_spark.streaming.maintain import (
    SUM,
    maintenance_stream,
    merge_state,
)
from oxford_data_pipeline_spark.streaming.stream_neardup import neardup_stream


def admitted_stream(stream: DataFrame) -> DataFrame:
    """The admission stage: append gate features, keep admitted docs
    (C4 rules pass AND no PII), project back to the dedup input shape.
    Stateless — safe anywhere in a streaming plan."""
    feat = with_c4_features(with_pii_features(stream))
    return feat.filter(F.col("c4_admitted") & ~F.col("has_pii")).select(
        "doc_id", "source", "text", "event_ts"
    )


def curation_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Gate -> near-dup candidates in ONE streaming plan: each arriving
    admitted document that shares an LSH band signature with its key's
    first-seen representative emits a candidate row (band, sig, doc_id,
    matched_doc, event_ts).  Rejected documents are filtered before the
    state shuffle and never touch the store."""
    return neardup_stream(
        admitted_stream(stream).select("doc_id", "text", "event_ts"), watermark
    )


def quarantine_stream(stream: DataFrame) -> DataFrame:
    """The rejected side: every non-admitted document with its reasons
    — run as a second query over the same source (own checkpoint), or
    inside a foreachBatch fan-out for atomic dual-sink commits."""
    feat = with_c4_features(with_pii_features(stream))
    return feat.filter(~(F.col("c4_admitted") & ~F.col("has_pii"))).select(
        "doc_id",
        "source",
        "event_ts",
        "has_pii",
        "c4_admitted",
        F.when(F.col("has_pii"), "pii")
        .when(~F.col("c4_admitted"), "c4")
        .alias("reason"),
    )


# --------------------------------------------------------------------------
# Per-host count maintenance (the online half of cur_domain_mix)
# --------------------------------------------------------------------------
# The maintained table behind the domain-mix rollup is the additive
# (host, n_docs, n_chars) relation — the same merge algebra as the CMS
# counters, so the stream maintainer is the same shape: each
# micro-batch folds into its own per-host counts via the SAME
# `host_counts` builder the batch query uses (URL normalization
# included — scan-local, no state store) and merges into the
# maintained table by `maintain.merge_state` with the SUM monoid.  The
# maintained relation is |hosts| rows regardless of corpus size;
# shares/mix weights derive from it at read time.  Stream-merged
# counts proven equal to batch-built in tests/test_sinks_streaming.py.


def merge_host_counts(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """counts ⊕ counts: `merge_state` on host, both tallies summed."""
    return merge_state(
        maintained, delta, ["host"], {"n_docs": SUM, "n_chars": SUM}
    )


def host_mix_maintenance_stream(
    docs: DataFrame, sink: Callable[[DataFrame, int], None]
):
    """Start the maintenance query (`maintenance_stream`): each
    micro-batch of (doc_id, n_chars, url) rows becomes a per-host count
    delta handed to `sink`, which merges it into the maintained table
    (with `merge_host_counts`, or any sum-on-conflict upsert)."""
    from oxford_data_pipeline_spark.plans.curation import host_counts

    return maintenance_stream(docs, host_counts, sink)
