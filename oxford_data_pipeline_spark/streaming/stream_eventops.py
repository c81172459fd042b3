"""Streaming twins for the event-analytics queries — every batch
family's online half lives here: transitions/funnel (wave 1), the
DAU-register / retention / daily-count / value-histogram maintainers
and the attribution pair emitter (wave 2), and the path-triple /
session-basket / inter-arrival state machines (wave 3), plus the
read-time serves that give maintained state a SECOND report for free
(`seasonality_report_from` off the daily counts,
`growth_report_from` off the retention state).

The stateful operators are `applyInPandasWithState` state machines
keyed on user_id (or (user_id, event_type)) — the sessionize
discipline: the only shuffle is the state exchange on the key;
per-key state is O(1) registers (a last-event carry, funnel
timestamps, the open session's type set, a last-seen timestamp), so
state size grows with |keys|, never with event volume.  Contract:
per-key in-order event-time replay (the same contract every
maintenance twin in this package documents); the batch-equality
tests replay the driver tables through the stream across a
checkpointed restart boundary and require the derived reports —
through the SHARED report tails in `plans/eventops.py` — to match
the batch plans exactly.

Output shape is DELTAS, not finished reports:

- `transition_stream` emits one (from_state, to_state) row per
  consecutive pair — including the pair that spans a batch boundary,
  carried by the state.  Terminal 'END' transitions are a property of
  stream CLOSE, not of any batch; the compaction
  (`markov_matrix_from`) folds them in from the last-event-per-user
  relation, mirroring how the keeper compactions in `stream_dedup`
  finalize survivors.
- `funnel_stage_stream` emits one (user_id, stage) row the FIRST time
  a user completes each funnel stage (1 = signup, 2 = qualified view,
  3 = ordered purchase), with exactly the ordering semantics of the
  batch `e_funnel` running-min window (a purchase only counts when
  the user's FIRST view sits at-or-after their first signup).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from oxford_data_pipeline_spark.functions.compat import (
    EPOCH_DAY_SQL,
    EPOCH_WEEK_SQL,
)
from oxford_data_pipeline_spark.streaming.maintain import MAX, MIN, SUM, merge_state

TRANSITION_SCHEMA = "from_state string, to_state string"
_TRANS_STATE = "last_ts long, last_id long, last_type string"

FUNNEL_SCHEMA = "user_id long, stage int"
# -1 sentinels for unset timestamps; flag bits for emitted stages
_FUNNEL_STATE = (
    "s_ts long, v_any long, v_q int, p_q int, emitted1 int,"
    " emitted2 int, emitted3 int"
)


def _transitions(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    if state.exists:
        last_ts, last_id, last_type = state.get
    else:
        last_ts, last_id, last_type = -1, -1, None
    rows = []
    for ts, eid, typ in zip(
        events["ts"].astype("int64"),
        events["event_id"].astype("int64"),
        events["event_type"],
    ):
        if last_type is not None:
            rows.append((last_type, typ))
        last_ts, last_id, last_type = int(ts), int(eid), str(typ)
    state.update((last_ts, last_id, last_type))
    if rows:
        yield pd.DataFrame(rows, columns=["from_state", "to_state"])


def transition_stream(stream: DataFrame) -> DataFrame:
    """Per-user consecutive-pair transition deltas from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _transitions,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=_TRANS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def markov_matrix_from(trans: DataFrame, last_events: DataFrame) -> DataFrame:
    """Compaction: fold streamed transition deltas plus the
    last-event-per-user relation (the stream-close 'END' transitions)
    into the batch `e_markov_transitions` output shape."""
    from oxford_data_pipeline_spark.functions.compat import round6

    ends = last_events.select(
        F.col("event_type").alias("from_state"),
        F.lit("END").alias("to_state"),
    )
    counts = (
        trans.select("from_state", "to_state")
        .unionByName(ends)
        .groupBy("from_state", "to_state")
        .agg(F.count("*").alias("n"))
    )
    totals = counts.groupBy("from_state").agg(F.sum("n").alias("n_from"))
    return counts.join(F.broadcast(totals), "from_state").select(
        "from_state",
        "to_state",
        "n",
        round6(F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


def _funnel_stages(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    if state.exists:
        s_ts, v_any, v_q, p_q, em1, em2, em3 = state.get
    else:
        s_ts, v_any, v_q, p_q, em1, em2, em3 = -1, -1, 0, 0, 0, 0, 0
    out = []
    for ts, typ in zip(events["ts"].astype("int64"), events["event_type"]):
        ts = int(ts)
        if typ == "signup":
            if s_ts < 0:
                s_ts = ts
                if not em1:
                    em1 = 1
                    out.append((user_id, 1))
        elif typ == "view":
            if v_any < 0:
                v_any = ts
            if s_ts >= 0 and not v_q:
                v_q = 1
                if not em2:
                    em2 = 1
                    out.append((user_id, 2))
        elif typ == "purchase":
            if s_ts >= 0 and v_any >= 0 and v_any >= s_ts:
                p_q = 1
        # stage 3 requires ALL THREE batch flags (did_signup AND
        # did_view AND did_purchase) — p_q can precede v_q when the
        # first view ties the first signup's timestamp but follows it
        # in event_id order, so re-check after every event
        if p_q and v_q and not em3:
            em3 = 1
            out.append((user_id, 3))
    state.update((s_ts, v_any, v_q, p_q, em1, em2, em3))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "stage"])


def funnel_stage_stream(stream: DataFrame) -> DataFrame:
    """First-completion funnel stage rows from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _funnel_stages,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming DAU register maintenance (the e_dau_hll online half)
# --------------------------------------------------------------------------
# Register maintenance is the HLL's defining algebraic property: a
# micro-batch's (week, day, bucket, mreg) delta merges into the
# maintained table by bucket-wise MAX (associative + commutative, so
# shard and batch order never matter — same contract as
# stream_profile's vocab sketch, keyed by time).  The maintained
# relation is |days| x 256 rows regardless of event volume; weekly
# cardinalities derive at read time exactly as the batch query's
# merge leg.


def dau_register_deltas(events: DataFrame) -> DataFrame:
    """Micro-batch (user_id, ts) events → (week, day, bucket, mreg)
    register deltas via the SAME builder as the batch query."""
    from oxford_data_pipeline_spark.plans.eventops import user_hll_registers

    ev = events.select(
        F.expr(EPOCH_WEEK_SQL).alias("week"),
        F.expr(EPOCH_DAY_SQL).alias("day"),
        "user_id",
    )
    return user_hll_registers(ev, ["week", "day"])


def merge_dau_registers(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """registers ⊕ registers: `merge_state` on (week, day, bucket),
    bucket-wise max — the sketch merge operator."""
    return merge_state(maintained, delta, ["week", "day", "bucket"], {"mreg": MAX})


# --------------------------------------------------------------------------
# Streaming cohort-retention maintenance (the e_retention online half)
# --------------------------------------------------------------------------
# The retention matrix derives from two maintainable relations, both
# with associative merges: the per-user FIRST-ACTIVITY week (merge =
# bucket-wise MIN — first-seen-wins, the keeper discipline) and the
# distinct (user, week) activity set (merge = union-distinct).  Each
# micro-batch folds into both; the matrix itself is a read-time
# derivation over the maintained relations, identical to the batch
# plan's cells/base arithmetic.


def retention_deltas(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Micro-batch (user_id, ts) events → (firstw delta, active delta):
    this batch's per-user min week and distinct (user, week) rows."""
    weeks = events.select(
        "user_id", F.expr(EPOCH_WEEK_SQL).alias("week")
    )
    firstw = weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    active = weeks.distinct()
    return firstw, active


def merge_retention_state(
    maintained: tuple[DataFrame, DataFrame] | None,
    delta: tuple[DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """State ⊕ delta: first-week keeper merge (`merge_state` on
    user_id, MIN) and activity-set union-distinct."""
    if maintained is None:
        return delta
    mf, ma = maintained
    df_, da = delta
    firstw = merge_state(mf, df_, ["user_id"], {"cohort_week": MIN})
    return firstw, ma.unionByName(da).distinct()


def retention_matrix_from(
    state: tuple[DataFrame, DataFrame]
) -> DataFrame:
    """Read-time derivation: the batch `e_retention` matrix from the
    maintained (firstw, active) relations — same cells/base arithmetic
    (co-partitioned user join, broadcast base rates)."""
    from oxford_data_pipeline_spark.functions.compat import round6

    firstw, active = state
    cells = (
        active.join(firstw, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    base = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("cohort_size")
    )
    return cells.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        round6(
            F.col("n_users").cast("double") / F.col("cohort_size")
        ).alias("retention"),
    )


# --------------------------------------------------------------------------
# Streaming daily-count maintenance (the e_rolling_anomaly online half)
# --------------------------------------------------------------------------
# The anomaly query's only corpus-sized step is the (event_type, day)
# count rollup — a trivially mergeable relation (merge = sum,
# associative + commutative), so the online half maintains exactly
# that: micro-batch count deltas folded in by `merge_state` SUM.  The
# maintained relation is |types| x |days| rows whatever the event
# volume; the z-score pass derives at read time via the SAME
# `anomaly_scores_from` tail as the batch plan.


def daily_count_deltas(events: DataFrame) -> DataFrame:
    """Micro-batch events → (event_type, day, n) count deltas via the
    same day bucketing as the batch query."""
    return events.groupBy(
        "event_type", F.expr(EPOCH_DAY_SQL).alias("day")
    ).agg(F.count("*").alias("n"))


def merge_daily_counts(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """counts ⊕ counts: `merge_state` on (event_type, day), SUM —
    late/out-of-order events simply add to their day."""
    return merge_state(maintained, delta, ["event_type", "day"], {"n": SUM})


# --------------------------------------------------------------------------
# Streaming value-histogram maintenance (the e_value_histogram online half)
# --------------------------------------------------------------------------
# Fixed-boundary histograms are the mergeable-quantile contract: the
# micro-batch delta is a (day, week, bucket, n) count relation built
# by the SAME bucketing as the batch query, and the merge is additive
# — so the maintained daily relation equals the batch daily histogram
# EXACTLY (no sketch error in the merge; the only approximation is
# the write-time bucket width, identical online and offline).  Weekly
# quantiles derive at read time via the shared
# `weekly_quantiles_from` interpolation.


def value_hist_deltas(events: DataFrame) -> DataFrame:
    """Micro-batch events → (day, week, bucket, n) histogram deltas."""
    from oxford_data_pipeline_spark.plans.eventops import value_hist_buckets

    return value_hist_buckets(events).groupBy(
        "day", "week", "bucket"
    ).agg(F.count("*").alias("n"))


def merge_value_hists(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """histogram ⊕ histogram: `merge_state` on (day, week, bucket),
    SUM."""
    return merge_state(maintained, delta, ["day", "week", "bucket"], {"n": SUM})


def weekly_hist_report_from(daily: DataFrame) -> DataFrame:
    """Read-time weekly quantile report from the maintained daily
    histogram relation — the batch query's merge + interpolation tail
    over the online state (rounded like the batch output)."""
    from oxford_data_pipeline_spark.functions.compat import round6
    from oxford_data_pipeline_spark.plans.eventops import weekly_quantiles_from

    merged = daily.groupBy("week", "bucket").agg(F.sum("n").alias("n"))
    return weekly_quantiles_from(merged).select(
        "week",
        F.col("n_total").cast("bigint").alias("n_total"),
        round6(F.col("p50_est")).alias("p50_est"),
        round6(F.col("p90_est")).alias("p90_est"),
    )


# --------------------------------------------------------------------------
# Streaming multi-touch attribution (the e_attribution online half)
# --------------------------------------------------------------------------
# Per-user state = the touch window: the (view/click) events inside
# the trailing 3-day lookback, pruned as event time advances — state
# size is bounded by one user's activity inside the lookback, never
# by history.  A purchase emits one pair row per in-window touch (the
# same (conv_id, touch_id, touch_type, touch_ts) relation the batch
# query builds with its binned interval join); the report derives at
# read time via the SHARED `attribution_report_from` tail.
# Ordering contract: per-user in-order event-time replay.  Within a
# micro-batch, same-timestamp ties replay touches BEFORE purchases
# (regardless of event_id order), because the batch leg admits any
# same-instant touch (`touch_ts <= conv_ts`) — this makes the twin
# exactly batch-equal whenever ties co-arrive (r12 advisor item 3).
# A tie SPLIT across micro-batches (purchase in batch N, same-instant
# touch in batch N+1) is inherently unattributable online; event
# timestamps are ns-grain, so that race does not occur in practice.

ATTR_PAIR_SCHEMA = (
    "conv_id long, touch_id long, touch_type string, touch_ts long"
)
_ATTR_STATE = "t_ids array<bigint>, t_types array<string>, t_ts array<bigint>"


def _attribution_pairs(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from oxford_data_pipeline_spark.plans.eventops import _ATTR_LOOKBACK_NS

    events = pd.concat(list(batches))
    # same-instant ties replay touches first (see ordering contract):
    # the batch pair relation is `touch_ts <= conv_ts`, so a touch at
    # the exact purchase instant must be in the window when the
    # purchase emits, whatever the event_id order
    events = events.assign(
        __purchase=(events["event_type"] == "purchase").astype("int64")
    ).sort_values(["ts", "__purchase", "event_id"])
    if state.exists:
        sid, styp, sts = state.get
        t_ids, t_types, t_ts = list(sid), list(styp), list(sts)
    else:
        t_ids, t_types, t_ts = [], [], []
    rows = []
    for ts, eid, typ in zip(
        events["ts"].astype("int64"),
        events["event_id"].astype("int64"),
        events["event_type"],
    ):
        ts, eid, typ = int(ts), int(eid), str(typ)
        lo = ts - _ATTR_LOOKBACK_NS
        drop = 0
        while drop < len(t_ts) and t_ts[drop] <= lo:
            drop += 1
        if drop:
            t_ids, t_types, t_ts = t_ids[drop:], t_types[drop:], t_ts[drop:]
        if typ in ("view", "click"):
            t_ids.append(eid)
            t_types.append(typ)
            t_ts.append(ts)
        elif typ == "purchase":
            rows.extend(
                (eid, t_ids[i], t_types[i], t_ts[i])
                for i in range(len(t_ids))
            )
    state.update((t_ids, t_types, t_ts))
    if rows:
        yield pd.DataFrame(
            rows, columns=["conv_id", "touch_id", "touch_type", "touch_ts"]
        )


def attribution_stream(stream: DataFrame) -> DataFrame:
    """Per-conversion attribution pair deltas from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns):
    exactly the batch query's pair relation, emitted online."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _attribution_pairs,
        outputStructType=ATTR_PAIR_SCHEMA,
        stateStructType=_ATTR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def seasonality_report_from(daily: DataFrame) -> DataFrame:
    """Read-time weekday-periodicity report from the MAINTAINED
    (event_type, day, n) count relation — the same state
    `daily_count_deltas`/`merge_daily_counts` keep for the anomaly
    query serves seasonality for free: dow = (day + 4) mod 7 is a
    function of the day key, so the (type, dow) grid is an exact
    rollup of the maintained counts (no approximation, no second
    corpus pass).  Reproduces `e_seasonality`'s batch output
    column-for-column."""
    from pyspark.sql import Window

    from oxford_data_pipeline_spark.functions.compat import round6
    from oxford_data_pipeline_spark.plans.eventops import _CHI2_CRIT_DF6

    spark = daily.sparkSession
    counts = daily.groupBy(
        "event_type", F.expr("pmod(day + 4, 7)").alias("dow")
    ).agg(F.sum("n").alias("n"))
    dows = spark.range(7).select(F.col("id").alias("dow"))
    types = counts.select("event_type").distinct()
    grid = (
        types.join(F.broadcast(dows))
        .join(counts, ["event_type", "dow"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    tot = grid.groupBy("event_type").agg(F.sum("n").alias("n_total"))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("dow")
    )
    ranked = grid.join(F.broadcast(tot), "event_type").withColumn(
        "rn", F.row_number().over(wr)
    )
    exp = F.col("n_total") / F.lit(7.0)
    chi2 = F.sum(F.pow(F.col("n") - exp, F.lit(2)) / exp)
    return ranked.groupBy("event_type").agg(
        F.max("n_total").cast("bigint").alias("n_events"),
        round6(chi2).alias("chi2"),
        F.max(F.when(F.col("rn") == 1, F.col("dow"))).cast("bigint").alias(
            "peak_dow"
        ),
        round6(
            F.max(F.when(F.col("rn") == 1, F.col("n"))) / F.max("n_total")
        ).alias("peak_share"),
        (chi2 > _CHI2_CRIT_DF6).cast("int").alias("is_periodic"),
    )


# --------------------------------------------------------------------------
# Streaming path mining (the e_path_topk online half)
# --------------------------------------------------------------------------
# Per-user state = the LAST TWO event types seen (the sessionize /
# transitions exchange, one register wider): each arriving event with
# two predecessors emits one (s1, s2, s3) triple delta.  The
# maintained artifact is the additive (s1, s2, s3, n_paths) count
# relation — bounded by |types|^3 regardless of history — and the
# top-k report derives at read time via the SHARED
# `path_topk_report_from` tail, so batch and stream can't drift.

PATH_SCHEMA = "s1 string, s2 string, s3 string"
_PATH_STATE = "last_ts long, last_id long, t1 string, t2 string"


def _path_triples(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    if state.exists:
        last_ts, last_id, t1, t2 = state.get
    else:
        last_ts, last_id, t1, t2 = -1, -1, None, None
    rows = []
    for ts, eid, typ in zip(
        events["ts"].astype("int64"),
        events["event_id"].astype("int64"),
        events["event_type"],
    ):
        typ = str(typ)
        if t1 is not None and t2 is not None:
            rows.append((t1, t2, typ))
        last_ts, last_id, t1, t2 = int(ts), int(eid), t2, typ
    state.update((last_ts, last_id, t1, t2))
    if rows:
        yield pd.DataFrame(rows, columns=["s1", "s2", "s3"])


def path_triple_stream(stream: DataFrame) -> DataFrame:
    """Per-user 3-step path triple deltas from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _path_triples,
        outputStructType=PATH_SCHEMA,
        stateStructType=_PATH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_path_counts(maintained: DataFrame, delta: DataFrame) -> DataFrame:
    """counts ⊕ counts: `merge_state` on the (s1, s2, s3) triple key,
    SUM — the maintained relation stays <= |types|^3 rows."""
    return merge_state(maintained, delta, ["s1", "s2", "s3"], {"n_paths": SUM})


# --------------------------------------------------------------------------
# Streaming session baskets (the e_cooccurrence_lift online half)
# --------------------------------------------------------------------------
# The sessionize state machine, emitting DISTINCT basket membership
# online: per-user state = (last event time, session counter, the set
# of types already seen in the OPEN session); a >gap silence bumps the
# counter and clears the set, and each FIRST occurrence of a type
# within a session emits one (user_id, session_idx, event_type) row.
# session_idx reproduces the batch `session_assignments` running sum
# exactly (1-based, strict > gap), and the emitted relation IS the
# batch plan's distinct basket relation — support/lift derive at read
# time via the SHARED `cooccurrence_report_from` tail.  Per-session
# output is bounded by |types| rows; state by one type set + 3 longs.

BASKET_SCHEMA = "user_id long, session_idx long, event_type string"
_BASKET_STATE = "last_ts long, last_id long, seq long, types string"
_TYPE_SEP = "\x00"


def _session_baskets(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from oxford_data_pipeline_spark.plans.eventops import _SESSION_GAP_NS

    (user_id,) = key
    events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    if state.exists:
        last_ts, last_id, seq, types_s = state.get
        types = set(types_s.split(_TYPE_SEP)) if types_s else set()
    else:
        last_ts, last_id, seq, types = -1, -1, 0, set()
    rows = []
    for ts, eid, typ in zip(
        events["ts"].astype("int64"),
        events["event_id"].astype("int64"),
        events["event_type"],
    ):
        ts, typ = int(ts), str(typ)
        if seq == 0 or ts - last_ts > _SESSION_GAP_NS:
            seq += 1
            types = set()
        if typ not in types:
            types.add(typ)
            rows.append((user_id, seq, typ))
        last_ts, last_id = ts, int(eid)
    state.update((last_ts, last_id, seq, _TYPE_SEP.join(sorted(types))))
    if rows:
        yield pd.DataFrame(
            rows, columns=["user_id", "session_idx", "event_type"]
        )


def basket_stream(stream: DataFrame) -> DataFrame:
    """Distinct per-session basket-membership rows from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _session_baskets,
        outputStructType=BASKET_SCHEMA,
        stateStructType=_BASKET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming inter-arrival gaps (the e_interarrival online half)
# --------------------------------------------------------------------------
# Per-(user, type) state = ONE last-seen timestamp register; each
# arriving event with a predecessor emits its (event_type, gap_ns)
# delta.  The per-type distribution report derives at read time via
# the SHARED `interarrival_report_from` tail (exact percentiles on
# the bounded per-type grain; `percentile_approx` is the documented
# 100 TB swap over the same relation).  A `has` flag marks the unset
# register instead of a sentinel timestamp, so pre-epoch (negative)
# event times stay in contract.

GAP_SCHEMA = "event_type string, gap_ns long"
_GAP_STATE = "last_ts long, has int"


def _interarrival_gaps(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (_user_id, event_type) = key
    events = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    if state.exists:
        last_ts, has = state.get
    else:
        last_ts, has = 0, 0
    rows = []
    for ts in events["ts"].astype("int64"):
        ts = int(ts)
        if has:
            rows.append((str(event_type), ts - last_ts))
        last_ts, has = ts, 1
    state.update((last_ts, has))
    if rows:
        yield pd.DataFrame(rows, columns=["event_type", "gap_ns"])


def interarrival_gap_stream(stream: DataFrame) -> DataFrame:
    """Per-(user, type) inter-arrival gap deltas from a
    (user_id, ts, event_id, event_type) stream (ts = epoch ns)."""
    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        _interarrival_gaps,
        outputStructType=GAP_SCHEMA,
        stateStructType=_GAP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def growth_report_from(
    state: tuple[DataFrame, DataFrame]
) -> DataFrame:
    """Read-time growth-accounting report from the maintained
    retention state — the SAME (firstw, active) relations
    `retention_matrix_from` reads serve new/retained/resurrected/
    churned for free (one maintained relation pair, two reports —
    the daily-count/seasonality pattern).  Derivation is the shared
    `growth_accounting_from` tail, batch-equal by construction."""
    from oxford_data_pipeline_spark.plans.eventops import (
        growth_accounting_from,
    )

    firstw, active = state
    return growth_accounting_from(firstw, active)
