"""Streaming search serving — online BM25 queries against the
maintained (static) index relations.

Ranking needs window functions, which append-mode streaming cannot
express, so serving uses the standard foreachBatch pattern: each
arriving micro-batch of queries is scored with FULL batch semantics
by the SAME `bm25_rank` scorer the registered batch query uses —
online and offline rankings are one code path, so they cannot drift.
The index side (`postings_relation` / `doclen_relation`) is static
within a serving generation; index updates roll in by restarting the
query on the next snapshot (or by the postings-delta maintenance job,
`retrieval.apply_postings_delta`).

Atomicity contract: ONE query's terms must arrive inside one
micro-batch.  Queries therefore enter as (query_id, text) rows — the
terms are derived IN-batch by the same tokenizer as the index, so a
query can never be split across triggers.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.operators.textops import normalized, tokens
from oxford_data_pipeline_spark.plans.retrieval import bm25_rank
from oxford_data_pipeline_spark.streaming.maintain import maintenance_stream


def query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, text) → distinct (query_id, term) rows, same
    tokenizer as the index build."""
    return (
        queries.select(
            "query_id", F.explode(tokens(normalized("text"))).alias("term")
        )
        .distinct()
    )


def bm25_serving_stream(
    queries: DataFrame,
    tf: DataFrame,
    docs: DataFrame,
    sink: Callable[[DataFrame, int], None],
    topk: int = 10,
):
    """Start the serving query (`maintenance_stream`): each micro-batch
    of (query_id, text) rows is tokenized, ranked by `bm25_rank`
    against the static `tf`/`docs` index relations, and handed to
    `sink` (e.g. append to the results table)."""
    return maintenance_stream(
        queries, lambda batch: bm25_rank(query_terms(batch), tf, docs, topk), sink
    )
