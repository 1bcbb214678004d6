"""Event-interval algebra: label<->event conversion, merge, AND/OR, expand.

Parity targets: /root/reference/src/adtk/data/_data.py:98-615 and
aggregator/_aggregator.py:94-212. An event list becomes a DataFrame
``(source, start_ts, end_ts)`` with closed intervals; instantaneous
events have start_ts == end_ts. The reference works at nanosecond
resolution; Spark timestamps are microseconds, so contiguity ("within
1ns") becomes "within 1 microsecond" — identical on any real-world
sampling grid.

All algorithms are the classic gaps-and-islands / sweep-line window
patterns — pure JVM window aggregates, one shuffle per partitionBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adtk_spark.functions.windows import quoted, td_micros
from adtk_spark.session import one_partition_if_small

US = "1 microsecond"


def _micros(c):
    return F.unix_micros(c.cast("timestamp"))


def _ts(c):
    return F.timestamp_micros(c.cast("long"))


def validate_events(
    events: DataFrame,
    *,
    source_col: str = "source",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Sort + merge overlapping/contiguous intervals per source.

    Parity: validate_events (_data.py:98-185) — drops invalid windows
    (start > end), merges overlaps and gaps of <= 1 time unit. Uses the
    running-max-end gaps-and-islands pattern instead of the reference's
    endpoint sweep; identical output.
    """
    e = events.where(F.col(start_col) <= F.col(end_col))
    s, en = _micros(F.col(start_col)), _micros(F.col(end_col))
    w = Window.partitionBy(source_col).orderBy(s, en)
    prev_max = F.max(en).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(prev_max.isNull() | (s > prev_max + 1), 1).otherwise(0)
    island = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        e.select(source_col, s.alias("_s"), en.alias("_e"), island.alias("_i"))
        .groupBy(source_col, "_i")
        .agg(_ts(F.min("_s")).alias(start_col), _ts(F.max("_e")).alias(end_col))
        .drop("_i")
    )


def events_or(
    event_dfs: list[DataFrame],
    *,
    source_col: str = "source",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """OrAggregator on event lists (_aggregator.py:107-118): union + merge."""
    u = event_dfs[0]
    for d in event_dfs[1:]:
        u = u.unionByName(d)
    return validate_events(u, source_col=source_col, start_col=start_col, end_col=end_col)


def events_and(
    event_dfs: list[DataFrame],
    *,
    source_col: str = "source",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    validate: bool = True,
) -> DataFrame:
    """AndAggregator on event lists (_aggregator.py:154-204).

    Sweep line: validate each input (per-list intervals then disjoint, so
    each list contributes at most one active interval at any instant),
    emit (+1 at start, -1 at end + 1us) deltas, running-sum per source;
    covered where the sum equals the number of lists; sessionize.

    ``validate=False`` skips the per-input merge for callers that
    already hold ``validate_events`` output (the metrics ops pre-validate
    and reuse the result) — the sweep's disjointness precondition is then
    the CALLER's contract.
    """
    n = len(event_dfs)
    deltas = None
    for d in event_dfs:
        v = (validate_events(d, source_col=source_col, start_col=start_col,
                             end_col=end_col) if validate else d)
        dd = v.select(
            source_col, _micros(F.col(start_col)).alias("_t"), F.lit(1).alias("_d")
        ).unionByName(
            v.select(source_col, (_micros(F.col(end_col)) + 1).alias("_t"), F.lit(-1).alias("_d"))
        )
        deltas = dd if deltas is None else deltas.unionByName(dd)
    g = deltas.groupBy(source_col, "_t").agg(F.sum("_d").alias("_d"))
    w = Window.partitionBy(source_col).orderBy("_t")
    cum = F.sum("_d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    nxt = F.lead("_t").over(w)
    g = g.select(source_col, "_t", cum.alias("_c"), nxt.alias("_nxt"))
    covered = F.col("_c") >= n
    prev_cov = F.lag(covered.cast("int")).over(w)
    island = F.sum(
        F.when(covered & (prev_cov.isNull() | (prev_cov == 0)), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    segs = (
        g.select(source_col, "_t", "_nxt", covered.alias("_cov"), island.alias("_i"))
        .where("_cov")
        .groupBy(source_col, "_i")
        .agg(_ts(F.min("_t")).alias(start_col), _ts(F.max("_nxt") - 1).alias(end_col))
        .drop("_i")
    )
    return segs


def to_events(
    labels: DataFrame,
    freq: str | None = None,
    merge_consecutive: bool | None = None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    label_col: str = "label",
) -> DataFrame:
    """Binary labels -> event intervals (to_events, _data.py:206-319).

    ``freq`` plays the role of the index's freq attribute: when given,
    each labeled point represents the period [ts, ts + freq - 1us]
    (freq_as_period), and merge_consecutive defaults to True; when None,
    points are instantaneous and merge_consecutive defaults to False.
    Consecutive means adjacent *rows* of the series (run-length
    semantics, np.diff in the reference), not time adjacency.
    """
    if merge_consecutive is None:
        merge_consecutive = freq is not None
    freq_us = td_micros(freq) if freq else 0
    if not merge_consecutive:
        end_of_point = (_ts(_micros(F.col(ts_col)) + freq_us - 1) if freq
                        else F.col(ts_col).cast("timestamp"))
        return labels.where(F.col(label_col) == 1).select(
            source_col,
            F.col(ts_col).cast("timestamp").alias("start_ts"),
            end_of_point.alias("end_ts"),
        )
    # gaps-and-islands over row positions, the two row_number windows as
    # SQL strings (one py4j round trip each, a WindowSpec about 20); a
    # small input runs as one partition and plans no Exchange
    s, t, lab = quoted(source_col), quoted(ts_col), quoted(label_col)
    return (
        one_partition_if_small(labels)
        .selectExpr(s, t, lab, f"row_number() OVER (PARTITION BY {s} ORDER BY {t}) AS _rn")
        .where(f"{lab} = 1")
        .selectExpr(s, t, f"_rn - row_number() OVER (PARTITION BY {s} ORDER BY _rn) AS _grp")
        .groupBy(source_col, "_grp")
        .agg(
            F.min(ts_col).cast("timestamp").alias("start_ts"),
            (_ts(_micros(F.max(ts_col)) + freq_us - 1) if freq
             else F.max(ts_col).cast("timestamp")).alias("end_ts"),
        )
        .drop("_grp")
    )


def to_labels(
    events: DataFrame,
    spine: DataFrame,
    freq: str | None = None,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
    out_col: str = "label",
) -> DataFrame:
    """Event intervals -> binary labels on a time spine (to_labels,
    _data.py:342-441). With freq, a spine point covers the period
    [ts, ts+freq-1us] and is positive when any event overlaps it.

    Join strategy: events tables are tiny relative to the series
    (detector outputs) — broadcast the validated events and evaluate the
    overlap predicate; the big spine never shuffles.
    """
    ev = validate_events(events, source_col=source_col)
    freq_us = td_micros(freq) if freq else 0
    t = _micros(F.col(ts_col))
    period_end = t + freq_us - 1 if freq else t
    cond = (
        (F.col(f"_ev.{source_col}") == F.col(f"_sp.{source_col}"))
        & (t <= _micros(F.col("end_ts")))
        & (period_end >= _micros(F.col("start_ts")))
    )
    sp = spine.alias("_sp")
    joined = sp.join(F.broadcast(ev.alias("_ev")), on=cond, how="left")
    return (
        joined.groupBy(*[F.col(f"_sp.{c}") for c in spine.columns])
        .agg(F.max(F.col("start_ts").isNotNull()).cast("double").alias(out_col))
    )


def expand_events(
    events: DataFrame,
    left_expand: str = "0s",
    right_expand: str = "0s",
    *,
    source_col: str = "source",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """expand_events (_data.py:486-615): widen then re-merge."""
    l_us = td_micros(left_expand)
    r_us = td_micros(right_expand)
    widened = events.select(
        source_col,
        _ts(_micros(F.col(start_col)) - l_us).alias(start_col),
        _ts(_micros(F.col(end_col)) + r_us).alias(end_col),
    )
    return validate_events(widened, source_col=source_col,
                           start_col=start_col, end_col=end_col)


def sessionize(
    df: DataFrame,
    gap_secs: float,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Gaps-and-islands sessionization: consecutive rows of one source
    share a session while the gap to the previous row is <= ``gap_secs``;
    a larger gap (or the first row) opens a new session. Output one row
    per session: ``(source, session_start, session_end, n_rows)``.

    The classic cumulative-sum-of-session-starts window pattern: one
    shuffle + sort on (source, ts) — the same exchange every windowed
    operator in the engine shares — then an algebraic groupBy on
    (source, session_id) whose key cardinality grows with data, so
    parallelism scales. (Structured Streaming's F.session_window is the
    ingest-edge analogue; this is the batch/backfill form.)
    """
    w = Window.partitionBy(source_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    gap_us = _micros(F.col(ts_col)) - _micros(prev)
    new_s = F.when(
        prev.isNull() | (gap_us > F.lit(int(gap_secs * 1_000_000))), 1
    ).otherwise(0)
    sid = F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.select(source_col, ts_col).withColumn("_sid", sid)
        .groupBy(source_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_rows"),
        )
        .drop("_sid")
    )


def funnel(
    df: DataFrame,
    steps: list[str],
    within_secs: float | None = None,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-step funnel conversion: for each user, the earliest time
    they completed step k AFTER their step-(k-1) completion (optionally
    within ``within_secs`` of it), then per-step user counts and the
    conversion rate vs step 1 — the product-analytics primitive
    (signup -> activation -> purchase) over the raw events stream.

    Plan shape: ONE Exchange. Step times are k chained conditional MIN
    windows over the SAME unordered user partition (step k's predicate
    references step k-1's window column — earliest-completion
    semantics without any per-user sort, self-join, or collect_list
    buffering, so a hot user costs k column scans of their rows, never
    an array build); the final count is a single algebraic aggregate
    with map-side partials, and the step rows come from exploding a
    k-literal array. Per-user state never materializes anywhere.

    Determinism: step times are exact timestamp minima; counts are
    integers; the conversion rate is one integer-over-integer double
    division rounded once.
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    w = Window.partitionBy(user_col)
    d = df.select(user_col, F.col(type_col).alias("_ty"),
                  F.col(ts_col).alias("_ts"))
    prev_t = None
    for i, s in enumerate(steps):
        cond = F.col("_ty") == s
        if prev_t is not None:
            cond = cond & (F.col("_ts") > prev_t)
            if within_secs is not None:
                cond = cond & (
                    _micros(F.col("_ts")) - _micros(prev_t)
                    <= F.lit(int(within_secs * 1_000_000)))
        t_i = F.min(F.when(cond, F.col("_ts"))).over(w)
        d = d.withColumn(f"_t{i}", t_i)
        prev_t = F.col(f"_t{i}")
    per_user = d.groupBy(user_col).agg(
        *[F.min(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))])
    counts = per_user.agg(
        *[F.count(f"_t{i}").alias(f"_c{i}") for i in range(len(steps))])
    rate = lambda i: F.when(
        F.col("_c0") > 0,
        F.round(F.col(f"_c{i}").cast("double")
                / F.col("_c0").cast("double"), 6))
    step_arr = F.array(*[
        F.struct(F.lit(i + 1).alias("step"),
                 F.lit(s).alias("event_type"),
                 F.col(f"_c{i}").alias("users"),
                 rate(i).alias("conv_rate"))
        for i, s in enumerate(steps)
    ])
    return counts.select(F.explode(step_arr).alias("_s")).select(
        "_s.step", "_s.event_type", "_s.users", "_s.conv_rate")


def cohort_retention(
    df: DataFrame,
    bucket: str = "week",
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    ``bucket`` (the cohort), counted in every later bucket they return
    — the (cohort, offset) -> active-users triangle behind every
    retention dashboard. The user-identity companion to
    ``tiers.rollup_retention`` (which tracks consecutive-bucket
    presence per SOURCE, not per user).

    Plan shape: distinct (user, bucket) activity (Exchange 1) -> cohort
    as a MIN window over the user partition (Exchange 2) -> (cohort,
    offset) count (Exchange 3). All keys are high-cardinality or
    grow with the time span; per-user state is never buffered (the
    window is an unordered MIN). Offsets are CALENDAR-day deltas
    between the truncated buckets (``datediff``), so a 23/25 h DST day
    in a non-UTC session timezone still counts as one day — and the
    matrix is integers end-to-end.
    """
    days = {"day": 1, "week": 7}
    if bucket not in days:
        raise ValueError(f"cohort_retention: bucket must be one of "
                         f"{sorted(days)}, got {bucket!r}")
    b = F.date_trunc(bucket, F.col(ts_col))
    act = df.select(F.col(user_col).alias("_u"), b.alias("_b")).distinct()
    cohort = F.min("_b").over(Window.partitionBy("_u"))
    d = act.withColumn("_c", cohort)
    off = (F.datediff(F.col("_b"), F.col("_c"))
           / F.lit(days[bucket])).cast("long")
    return (
        d.select(F.col("_u"), F.col("_c").alias("cohort"),
                 off.alias("offset"))
        .groupBy("cohort", "offset")
        .agg(F.count("*").alias("users"))
    )


def event_cooccurrence(
    intervals: DataFrame,
    *,
    source_col: str = "source",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket: str = "hour",
) -> DataFrame:
    """Cross-source event co-occurrence: for every pair of sources,
    how many of their event intervals overlap in time (closed-interval
    touch counts) and for how long in total — the systemic-incident
    view over per-source anomaly events (many sources alarming at once
    is an infrastructure problem, one source alarming alone is a data
    problem; reference events are per-series only,
    /root/reference/src/adtk/data/_data.py has no cross-series op).

    Scale: the bucketized self-join — each interval explodes to the
    coarse time buckets it spans (``interval_join``'s device, same
    granularity trade-off), candidates equi-join on the bucket, and a
    pair that shares several buckets is counted ONCE via bucket
    ownership (only in the bucket containing the later start), so no
    distinct pass over pairs. Overlap micros sum as exact DECIMAL with
    one final division.
    """
    step = {"minute": 60, "hour": 3600, "day": 86400}[bucket]
    b_start = F.unix_timestamp(F.date_trunc(bucket, F.col(start_col)))
    b_end = F.unix_timestamp(F.date_trunc(bucket, F.col(end_col)))
    # end < start would make F.sequence throw mid-job; NULL bounds
    # produce NULL sequences that explode() already drops
    iv = intervals.where(F.col(end_col) >= F.col(start_col)).select(
        F.col(source_col), F.col(start_col), F.col(end_col),
        F.explode(F.sequence(b_start, b_end, F.lit(step))).alias("_b"),
    )

    def side(tag: str) -> DataFrame:
        return iv.select(
            F.col(source_col).alias(f"s_{tag}"),
            F.col(start_col).alias(f"st_{tag}"),
            F.col(end_col).alias(f"en_{tag}"),
            "_b",
        )

    a, b = side("a"), side("b")
    later_start = F.greatest(F.col("st_a"), F.col("st_b"))
    first_end = F.least(F.col("en_a"), F.col("en_b"))
    own = F.unix_timestamp(F.date_trunc(bucket, later_start))
    pairs = (
        a.join(b, on="_b", how="inner")
        .where(
            (F.col("s_a") < F.col("s_b"))
            & (later_start <= first_end)
            & (F.col("_b") == own)
        )
    )
    ov_us = (_micros(first_end) - _micros(later_start)).cast("decimal(38,0)")
    return (
        pairs.groupBy(
            F.col("s_a").alias("source_a"), F.col("s_b").alias("source_b"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum(ov_us).cast("double") / 1000000.0, 6)
            .alias("overlap_secs"),
        )
    )


def interarrival_stats(
    df: DataFrame,
    *,
    source_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-source inter-arrival statistics over RAW irregular events:
    gap count, mean gap, coefficient of variation, and max gap, in
    seconds. The arrival-process profile [[gap_report]] (missing
    buckets in an already-regularized tier) can't see: CV ~ 1 is
    Poisson-like traffic, CV >> 1 is bursty (the sessionization-gap
    and watermark-sizing diagnostic), CV ~ 0 is a metronome scraper.

    Plan shape: one shuffle — the lag window partitions by source, and
    the groupBy on the same key reuses that partitioning (no second
    Exchange). Sources with fewer than 2 events drop (no gaps exist).

    Determinism: gaps are integer micros; the squared-gap sum is
    DECIMAL(38,0)-exact (gap^2 up to 1e24 overflows int64 — 11.5 days
    in micros is the int64-safe bound), so mean/CV are single IEEE
    expressions over exact integers: bit-stable at any parallelism and
    hash-equal to the SQL replay.
    """
    w = Window.partitionBy(source_col).orderBy("_t")
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    g = (df.select(source_col, t.alias("_t"))
         .withColumn("_gap", F.col("_t") - F.lag("_t").over(w))
         .where(F.col("_gap").isNotNull()))
    gd = F.col("_gap").cast("decimal(19,0)")
    agged = g.groupBy(source_col).agg(
        F.count("*").alias("n_gaps"),
        F.sum("_gap").alias("_sx"),
        F.sum(gd * gd).alias("_sxx"),
        F.max("_gap").alias("_mx"),
    )
    n = F.col("n_gaps").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    mean_s = (sx / n) / F.lit(1000000.0)
    cv = F.sqrt(n * sxx - sx * sx) / sx
    return agged.select(
        source_col, "n_gaps",
        mean_s.alias("mean_gap_secs"),
        cv.alias("cv_gap"),
        (F.col("_mx").cast("double") / F.lit(1000000.0)).alias("max_gap_secs"),
    )


def session_stats(
    sessions: DataFrame,
    *,
    source_col: str = "source",
) -> DataFrame:
    """Per-source session-level summary over [[sessionize]] output:
    session count, mean events per session, mean and max session
    duration in seconds — the capacity-planning / bot-shape report a
    raw event count can't give (the same event volume is 1,000 humans
    with 10-event sessions or one scraper with a 10,000-event one;
    n_sessions vs mean_events separates them).

    Plan shape: one groupBy on the session table (already aggregated
    by sessionize, so this reduce is over session rows, not events);
    composition keeps ONE event-table scan for the whole chain.

    Determinism: counts and integer-micro durations summed exactly
    (DECIMAL(38,0) for the duration sum — micros x sessions overflows
    int64 past ~292k session-years), single IEEE divisions.
    """
    dur = (_micros(F.col("session_end")) - _micros(F.col("session_start")))
    agged = sessions.groupBy(source_col).agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_rows").alias("_ev"),
        F.sum(dur.cast("decimal(38,0)")).alias("_durs"),
        F.max(dur).alias("_mxd"),
    )
    n = F.col("n_sessions").cast("double")
    return agged.select(
        source_col, "n_sessions",
        (F.col("_ev").cast("double") / n).alias("mean_events"),
        ((F.col("_durs").cast("double") / n) / F.lit(1000000.0))
        .alias("mean_duration_secs"),
        (F.col("_mxd").cast("double") / F.lit(1000000.0))
        .alias("max_duration_secs"),
    )


def user_concentration(
    df: DataFrame,
    top_k: int = 10,
    *,
    source_col: str = "source",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-source traffic-concentration report over event ownership:
    exact Gini coefficient of the per-user event-count distribution
    plus the share held by the ``top_k`` heaviest users — the
    abuse/bot-fleet shape [[session_stats]] can't see when a scraper
    rotates sessions (many normal-looking sessions, one user): Gini
    near 0 is egalitarian traffic, near 1 is single-tenant; a
    top-10 share jump without a matching event-volume jump is a
    takeover signal.

    Gini from per-user counts sorted ascending: ``G = (2*sum(i*x_i)
    - (n+1)*sum(x_i)) / (n*sum(x_i))`` with rank i from 1 — all
    integer sums, exact at any parallelism.

    Plan shape: one (source, user) count shuffle, then rank + running
    sums over the source partitioning of that same output, one final
    reduce. The per-user table is the heavy intermediate and it
    shrinks quadratically vs raw events.
    """
    per = (df.groupBy(F.col(source_col).alias("_s"),
                      F.col(user_col).alias("_u"))
           .agg(F.count("*").alias("_c")))
    w = Window.partitionBy("_s").orderBy(F.asc("_c"), F.asc("_u"))
    ranked = per.select(
        "_s", "_c",
        F.row_number().over(w).alias("_i"),
    )
    wsrc = Window.partitionBy("_s")
    tot = ranked.select(
        "_s", "_c", "_i",
        F.count("*").over(wsrc).alias("_n"),
        F.sum("_c").over(wsrc).alias("_sx"),
        F.sum(F.col("_i").cast("decimal(19,0)")
              * F.col("_c").cast("decimal(19,0)")).over(wsrc).alias("_six"),
    )
    top_share_num = F.sum(
        F.when(F.col("_i") > F.col("_n") - int(top_k), F.col("_c"))
         .otherwise(F.lit(0))).alias("_topc")
    agged = tot.groupBy("_s").agg(
        F.max("_n").alias("n_users"),
        F.max("_sx").alias("n_events"),
        F.max("_six").alias("_six"),
        top_share_num,
    )
    n = F.col("n_users").cast("double")
    sx = F.col("n_events").cast("double")
    gini = ((F.lit(2.0) * F.col("_six").cast("double")
             - (n + F.lit(1.0)) * sx) / (n * sx))
    return agged.select(
        F.col("_s").alias(source_col), "n_users", "n_events",
        F.round(gini, 6).alias("gini"),
        F.round(F.col("_topc").cast("double") / sx, 6)
         .alias(f"top{int(top_k)}_share"),
    )


def presence_lift(
    df: DataFrame,
    *,
    bucket: str = "hour",
    source_col: str = "source",
    ts_col: str = "ts",
    min_joint: int = 1,
) -> DataFrame:
    """Chance-normalized co-presence per source pair: over the observed
    bucket universe, ``lift = P(a AND b present) / (P(a) P(b))`` plus
    the presence-set Jaccard — the INDEPENDENCE test
    [[event_cooccurrence]]'s raw overlap counts don't give (two
    always-on sources overlap constantly at lift ~ 1, i.e. chance; two
    rare alarms sharing even a few buckets at lift >> 1 are causally
    coupled — that ranking is what an incident correlator wants).

    Plan shape: one (source, bucket) distinct shuffle; the self-join
    keys on the bucket (presence is tier-sized, shrinking with the
    bucket width); per-source totals broadcast back; the universe size
    is a one-row broadcast. All counts integer; DECIMAL cross-products
    guard the lift numerator past int64 (the ks_drift device).

    Emits pairs with at least ``min_joint`` shared buckets (lift of an
    unshared pair is 0 and floods the output at scale).
    """
    trunc = F.date_trunc(bucket, F.col(ts_col))
    pres = (df.select(F.col(source_col).alias("_s"), trunc.alias("_b"))
            .distinct()
            .localCheckpoint(eager=False))
    tot = pres.select("_b").distinct().agg(
        F.count(F.lit(1)).alias("_T"))
    per = pres.groupBy("_s").agg(F.count(F.lit(1)).alias("_n"))
    joint = (pres.alias("x").join(pres.alias("y"),
                                  on=[F.col("x._b") == F.col("y._b"),
                                      F.col("x._s") < F.col("y._s")])
             .groupBy(F.col("x._s").alias("source_a"),
                      F.col("y._s").alias("source_b"))
             .agg(F.count(F.lit(1)).alias("n_joint"))
             .where(F.col("n_joint") >= int(min_joint)))
    j = (joint
         .join(F.broadcast(per.select(F.col("_s").alias("source_a"),
                                      F.col("_n").alias("n_a"))), "source_a")
         .join(F.broadcast(per.select(F.col("_s").alias("source_b"),
                                      F.col("_n").alias("n_b"))), "source_b")
         .crossJoin(F.broadcast(tot)))
    dec = "decimal(20,0)"
    lift = (F.col("n_joint").cast(dec) * F.col("_T").cast(dec)).cast("double") \
        / (F.col("n_a").cast(dec) * F.col("n_b").cast(dec)).cast("double")
    jac = F.col("n_joint").cast("double") \
        / (F.col("n_a") + F.col("n_b") - F.col("n_joint")).cast("double")
    return j.select(
        "source_a", "source_b", "n_a", "n_b", "n_joint",
        F.round(lift, 6).alias("lift"),
        F.round(jac, 6).alias("jaccard"),
    )
