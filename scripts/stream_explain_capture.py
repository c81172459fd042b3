"""Capture .explain("formatted") for every streaming maintenance path.

Usage::

    python scripts/stream_explain_capture.py OUTDIR [SUFFIX]

Writes ``OUTDIR/stream_<path>_<SUFFIX>.txt`` for each maintenance path
of the streaming modules.  Register/state maintainers are captured as their
batch shape (delta + merge + read-time derivation over the events
table split at its midpoint — exactly what `scale10_probe --streams`
times); stateless document/embedding transforms are captured applied
to the static table (the micro-batch plan is identical modulo the
streaming source node).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python scripts/stream_explain_capture.py OUTDIR [SUFFIX]")
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "r15"
    os.makedirs(outdir, exist_ok=True)
    with tempfile.TemporaryDirectory() as stream_src:
        capture(outdir, suffix, stream_src)


def capture(outdir: str, suffix: str, stream_src: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.session import get_spark
    from oxford_data_pipeline_spark.sources.catalog import load_table

    spark = get_spark("stream_explain_capture")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    n = ev.count()
    h1 = ev.orderBy("ts", "event_id").limit(n // 2)
    h2 = ev.join(h1.select("event_id"), "event_id", "left_anti")
    docs = load_table(spark, sf_dir, "documents")
    # several gate paths consume the connector schema's arrival
    # timestamp column; a literal keeps the captured plan deterministic
    docs_ts = docs.withColumn(
        "event_ts", F.lit("2020-01-01").cast("timestamp")
    )
    embs = load_table(spark, sf_dir, "embeddings")
    # the stateful twins (applyInPandasWithState) only analyze against
    # a STREAMING source: dump this scale's events and readStream them
    ev.write.mode("overwrite").parquet(stream_src)
    ev_stream = (
        spark.readStream
        .schema("event_id long, ts long, user_id long, event_type string,"
                " value double")
        .parquet(stream_src)
    )

    from oxford_data_pipeline_spark.plans.eventops import (
        anomaly_scores_from,
        attribution_report_from,
        cooccurrence_report_from,
        interarrival_report_from,
        path_topk_report_from,
    )
    from oxford_data_pipeline_spark.streaming import stream_eventops as se
    from oxford_data_pipeline_spark.streaming import stream_ann as sann
    from oxford_data_pipeline_spark.streaming import stream_chunking as sch
    from oxford_data_pipeline_spark.streaming import stream_curation as scu
    from oxford_data_pipeline_spark.streaming import stream_dedup as sd
    from oxford_data_pipeline_spark.streaming import stream_multimodal as smm
    from oxford_data_pipeline_spark.streaming import stream_neardup as snd
    from oxford_data_pipeline_spark.streaming import stream_profile as sp
    from oxford_data_pipeline_spark.streaming import stream_quality as sq
    from oxford_data_pipeline_spark.streaming import stream_retrieval as sr
    from oxford_data_pipeline_spark.streaming import event_align as ea
    from oxford_data_pipeline_spark.plans.similarity import _centroids_for
    from oxford_data_pipeline_spark.plans.projection import embeddings_long

    long = embeddings_long(spark, sf_dir).select("vec_id", "dim", "val")
    norms = long.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
    )
    centroids = _centroids_for(spark, sf_dir, long, norms)

    rstate = se.merge_retention_state(
        se.retention_deltas(h1), se.retention_deltas(h2)
    )
    # the probe materializes the maintained state before its read-time
    # reports (the state IS a table in production); mirror that so the
    # captured serve plans read the realized state, not the merge tree
    rstate = (rstate[0].localCheckpoint(), rstate[1].localCheckpoint())
    counts = se.merge_daily_counts(
        se.daily_count_deltas(h1), se.daily_count_deltas(h2)
    ).localCheckpoint()
    # fresh attribute ids for the compaction join side (the probe reads
    # the streamed parquet back, which is the same shape)
    ev_fresh = spark.read.parquet(stream_src)
    last_events_fresh = ev_fresh.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias("event_type")
    )

    def host_delta():
        return (
            docs_ts.withColumn(
                "host",
                F.regexp_extract("source", r"^[a-z]+://([^/]+)", 1),
            )
            .groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).alias("n_chars"),
            )
        )

    paths = {
        # stream_eventops maintenance paths (the --streams probe set)
        "eventops_dau_registers": lambda: se.merge_dau_registers(
            se.dau_register_deltas(h1), se.dau_register_deltas(h2)
        ),
        "eventops_retention_matrix": lambda: se.retention_matrix_from(rstate),
        "eventops_growth_serve": lambda: se.growth_report_from(rstate),
        # the transition emitter is a stateful twin (applyInPandasWithState
        # — streaming-only): capture the streaming transform plan, and
        # the batch compaction fold separately over the sink's schema
        "eventops_transitions": lambda: se.transition_stream(ev_stream),
        "eventops_markov_compaction": lambda: se.markov_matrix_from(
            spark.createDataFrame(
                [], "user_id long, from_state string, to_state string"
            ),
            last_events_fresh,
        ),
        "eventops_funnel_stages": lambda: se.funnel_stage_stream(
            ev_stream
        ),
        "eventops_daily_counts_anomaly": lambda: anomaly_scores_from(counts),
        "eventops_seasonality_serve": lambda: se.seasonality_report_from(
            counts
        ),
        "eventops_value_hist": lambda: se.weekly_hist_report_from(
            se.merge_value_hists(
                se.value_hist_deltas(h1), se.value_hist_deltas(h2)
            )
        ),
        "eventops_attribution": lambda: se.attribution_stream(
            ev_stream
        ),
        "eventops_path_triples": lambda: se.path_triple_stream(
            ev_stream
        ),
        "eventops_session_baskets": lambda: se.basket_stream(
            ev_stream
        ),
        "eventops_interarrival_gaps": lambda: se.interarrival_gap_stream(
            ev_stream
        ),
        # ANN ingest / tombstones
        "ann_ivf_assign": lambda: sann.ivf_assign_stream(
            embs.select("vec_id", "embedding"), centroids
        ),
        "ann_ivf_tombstones": lambda: sann.apply_ivf_tombstones(
            sann.ivf_assign_stream(
                embs.select("vec_id", "embedding"), centroids
            ),
            embs.select("vec_id").limit(10),
        ),
        # postings maintenance
        "retrieval_postings": lambda: sr.postings_stream(
            docs.select("doc_id", "text")
        ),
        "retrieval_doclen": lambda: sr.doclen_stream(
            docs.select("doc_id", "text")
        ),
        # dedup keeper maintainers: delta + merge + compaction
        "dedup_exact_fingerprint": lambda: sd.fingerprinted(
            docs.select("doc_id", "text")
        ),
        "dedup_url_keepers": lambda: sd.merge_url_keepers(
            sd.url_keeper_delta(docs.select("doc_id", "source", "text")),
            sd.url_keeper_delta(docs.select("doc_id", "source", "text")),
        ),
        "dedup_content_keepers": lambda: sd.merge_content_keepers(
            sd.content_keeper_delta(docs.select("doc_id", "text")),
            sd.content_keeper_delta(docs.select("doc_id", "text")),
        ),
        "dedup_paragraph_keepers": lambda: sd.merge_paragraph_keepers(
            sd.paragraph_keeper_delta(docs.select("doc_id", "text")),
            sd.paragraph_keeper_delta(docs.select("doc_id", "text")),
        ),
        # near-dup band signatures (the stateful matcher's scan half)
        "neardup_band_signatures": lambda: snd.band_signature_rows(
            docs_ts.select("doc_id", "event_ts", "text")
        ),
        # curation / quality gates
        "curation_admitted": lambda: scu.admitted_stream(
            docs_ts.select("doc_id", "source", "event_ts", "text")
        ),
        "curation_quarantine": lambda: scu.quarantine_stream(
            docs_ts.select("doc_id", "source", "event_ts", "text")
        ),
        "curation_host_counts": lambda: scu.merge_host_counts(
            host_delta(), host_delta()
        ),
        "quality_gate": lambda: sq.quality_gate(
            docs_ts.select("doc_id", "source", "event_ts", "text")
        ),
        # profile sketch maintainers
        "profile_cms_counters": lambda: sp.merge_counters(
            sp.batch_counters(docs.select("doc_id", "text")),
            sp.batch_counters(docs.select("doc_id", "text")),
        ),
        "profile_hll_registers": lambda: sp.merge_registers(
            sp.batch_registers(docs.select("doc_id", "text")),
            sp.batch_registers(docs.select("doc_id", "text")),
        ),
        "profile_reservoir_sample": lambda: sp.merge_samples(
            sp.batch_sample(docs.select("doc_id", "source", "n_chars")),
            sp.batch_sample(docs.select("doc_id", "source", "n_chars")),
        ),
        # chunking / multimodal ingest transforms
        "chunking_chunks": lambda: sch.chunk_stream(
            docs.select("doc_id", "text")
        ),
        "multimodal_phash": lambda: smm.phash_stream(docs),
        # event alignment / rates
        "event_align_rates": lambda: ea.windowed_event_rates(
            ev.withColumn(
                "event_ts", (F.col("ts") / 1e9).cast("timestamp")
            ).select("event_ts", "event_type", "value")
        ),
    }

    for name, build in paths.items():
        try:
            df = build()
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {exc}"
        path = os.path.join(outdir, f"stream_{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
