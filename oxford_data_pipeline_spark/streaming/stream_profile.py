"""Streaming corpus-profile maintenance — the online half of the
count-min term sketch (`curation.cur_term_cms`).

CMS counters are a pure map-side-combinable SUM, so the online
maintainer is trivial arithmetic: each arriving micro-batch of
documents is tokenized, folded into its own (k, pos, cnt) counter
relation by the SAME `cms_counters` builder the batch query uses, and
ADDED into the maintained counters table by `maintain.merge_state`
with the SUM monoid (merge-by-addition is the sketch's defining
algebraic property, asserted in
tests/test_curation_eventops.py::test_cms_counters_mergeable).
Ranking/estimation stays a batch read over the maintained table; the
stream only ever touches counter rows — K x width of them, constant
in corpus size, which is the entire point of maintaining a sketch
instead of exact counts at 100 TB.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.operators.textops import normalized, tokens
from oxford_data_pipeline_spark.plans.curation import cms_counters
from oxford_data_pipeline_spark.streaming.maintain import (
    MAX,
    SUM,
    maintenance_stream,
    merge_state,
)


def batch_counters(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → this batch's (k, pos, cnt) counter
    relation, same tokenizer + hash addressing as the batch sketch."""
    tf = (
        docs.select(F.explode(tokens(normalized("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cms_counters(tf, "n")


def merge_counters(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """counters ⊕ counters: `merge_state` on (k, pos), cnt summed — the
    sketch's merge operator."""
    return merge_state(maintained, delta, ["k", "pos"], {"cnt": SUM})


def cms_maintenance_stream(
    docs: DataFrame, sink: Callable[[DataFrame, int], None]
):
    """Start the maintenance query (`maintenance_stream`): each
    micro-batch of (doc_id, text) rows becomes a counter-delta relation
    handed to `sink`, which merges it into the maintained counters
    table (with `merge_counters`, or any sum-on-conflict upsert)."""
    return maintenance_stream(docs, batch_counters, sink)


# --------------------------------------------------------------------------
# HyperLogLog register maintenance (the online half of cur_vocab_hll)
# --------------------------------------------------------------------------
def batch_registers(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) → this batch's (bucket, mreg) HLL register
    relation, same tokenizer + hash addressing as the batch sketch."""
    from oxford_data_pipeline_spark.plans.curation import hll_registers

    terms = docs.select(
        F.explode(tokens(normalized("text"))).alias("term")
    )
    return hll_registers(terms)


def merge_registers(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """registers ⊕ registers: `merge_state` on bucket, mreg maxed — the
    HLL merge operator.  Idempotent too, so replays collapse to the
    same sketch: strictly stronger delivery tolerance than the CMS
    sum, which must not double-count."""
    return merge_state(maintained, delta, ["bucket"], {"mreg": MAX})


def hll_maintenance_stream(
    docs: DataFrame, sink: Callable[[DataFrame, int], None]
):
    """Start the maintenance query (`maintenance_stream`): each
    micro-batch of (doc_id, text) rows becomes a register-delta
    relation handed to `sink`, which max-merges it into the maintained
    register table (with `merge_registers`, or any greatest-on-conflict
    upsert)."""
    return maintenance_stream(docs, batch_registers, sink)


# --------------------------------------------------------------------------
# A-ES weighted-sample maintenance (the online half of cur_weighted_sample)
# --------------------------------------------------------------------------
# Top-k-by-key is a semilattice just like the HLL max: merging two
# partial top-k lists and re-cutting to k gives exactly the global
# top-k (a distributed reservoir).  So the streaming maintainer keeps a
# k-row state relation and folds each micro-batch's LOCAL top-k into
# it — constant state, order-insensitive, replay-idempotent (an item
# already in the reservoir re-merges to the same place).
def batch_sample(docs: DataFrame, k: int = 20) -> DataFrame:
    """(doc_id, source, n_chars, ...) → this batch's local top-k A-ES
    sample (doc_id, source, n_chars, es_key), same key arithmetic as
    the batch query."""
    from oxford_data_pipeline_spark.plans.curation import es_keyed

    keyed = es_keyed(docs)
    return (
        keyed.orderBy(F.col("es_key").desc(), "doc_id").limit(k)
    )


def merge_samples(maintained: DataFrame, delta: DataFrame, k: int = 20) -> DataFrame:
    """reservoir ⊕ reservoir: union, re-cut to the global top-k by
    (es_key desc, doc_id) — associative, commutative, idempotent."""
    return (
        maintained.unionByName(delta)
        .dropDuplicates(["doc_id"])
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(k)
    )


def sample_maintenance_stream(
    docs: DataFrame, sink: Callable[[DataFrame, int], None], k: int = 20
):
    """Start the maintenance query (`maintenance_stream`): each
    micro-batch's local top-k sample is handed to `sink`, which merges
    it into the maintained reservoir with `merge_samples`."""
    return maintenance_stream(docs, lambda batch: batch_sample(batch, k), sink)
