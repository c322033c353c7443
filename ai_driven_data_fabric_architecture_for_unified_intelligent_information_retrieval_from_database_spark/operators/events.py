"""Event-stream operators over the ``events`` table (batch forms).

The reference has no streaming surface (SURVEY.md section 2.9); these are
the north-star expansion: JSON extraction from the ``props`` payload,
event-time tumbling/sliding windows, and gap-based sessionization. The
batch plans here are the semantic ground truth for the Structured Streaming
variants in ``streaming/`` (same expressions over ``readStream``), which is
exactly how Spark encourages stream/batch unification.

Scale posture: time-windowed aggregation groups by (window, type) — the
shuffle carries one partial row per (partition, window, type), not events.
Sessionization shuffles once on user_id; state per user is bounded by the
session gap in the streaming variant (watermark-evicted).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numerics import sql_stable_sum, stable_sum
from .registry import query


@query(
    "events_json_extract",
    oracle="""
        SELECT event_id, event_type,
               CAST(props->>'$.k' AS INTEGER) AS k
        FROM events WHERE event_id < 500
    """,
    covers="expansion 2.8 (JSON extraction on events.props, F.get_json_object)",
)
def events_json_extract(spark, t):
    """Pull a typed field out of the JSON ``props`` string."""
    return (
        t["events"]
        .where(F.col("event_id") < 500)
        .select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )


@query(
    "events_tumbling_window",
    oracle=f"""
        SELECT DATE_TRUNC('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n,
               {sql_stable_sum('value')} AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    covers="2.9 expansion (event-time tumbling window; scalar date_trunc key)",
)
def events_tumbling_window(spark, t):
    """Hourly tumbling-window aggregate.

    A fixed-width tumbling bucket IS ``date_trunc`` — so the batch form
    groups on ``date_trunc('hour', ts)`` (a scalar timestamp key) rather
    than ``F.window`` (which allocates a struct per row and groups on the
    struct: measured 43.8x DuckDB at sf1 / 20.7x at sf10 purely from the
    struct group key; the scalar key removes that overhead while producing
    the identical result). ``F.window`` stays in the streaming twin
    (streaming_entries.streaming_tumbling_hourly), where the struct key is
    load-bearing for watermark eviction."""
    return (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), stable_sum("value").alias("total_value"))
    )


#: DuckDB twin of Spark's epoch-aligned 1h/30m sliding window: each event
#: generates BOTH candidate pane starts, then keeps the panes that contain
#: it. Shared verbatim by the batch entry below and the streaming twin
#: (operators/streaming_entries.py) so a boundary-math fix cannot diverge.
SLIDING_WINDOW_ORACLE = f"""
        WITH win AS (
            SELECT e.*,
                   DATE_TRUNC('hour', ts)
                     - CASE WHEN EXTRACT(MINUTE FROM ts) < 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                     + s.off * INTERVAL 30 MINUTE AS window_start
            FROM events e, (SELECT UNNEST([0, 1]) AS off) s
        )
        SELECT window_start, COUNT(*) AS n, {sql_stable_sum('value')} AS total_value
        FROM win
        WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
        GROUP BY window_start
    """


@query(
    "events_sliding_window",
    oracle=SLIDING_WINDOW_ORACLE,
    covers="2.9 expansion (sliding window: 1h length, 30m slide)",
)
def events_sliding_window(spark, t):
    """Sliding 1-hour windows every 30 minutes — each event lands in two
    windows. The oracle reproduces Spark's window assignment by generating
    both candidate starts per event."""
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), stable_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@query(
    "events_sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                             > 1800000000
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts, event_id,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_id
    """,
    covers="2.9 expansion (sessionization: lag-gap + cumulative-sum pattern)",
)
def events_sessionize(spark, t):
    """Gap-based sessionization (30-minute inactivity closes a session):
    lag to flag session starts, running sum to number sessions, then a
    per-session rollup. One shuffle on user_id serves both windows and the
    final aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # Compare gaps at microsecond precision — truncating to whole seconds
    # would disagree with the oracle's interval comparison on sub-second gaps.
    # unix_micros needs TIMESTAMP; the ntz->tz cast is exact under the
    # pinned UTC session.
    as_micros = lambda c: F.unix_micros(c.cast("timestamp"))
    is_new = (
        prev_ts.isNull()
        | (as_micros(F.col("ts")) - as_micros(prev_ts) > 30 * 60 * 1_000_000)
    ).cast("long")
    return (
        t["events"]
        .select("user_id", "ts", "event_id")
        .withColumn("session_id", F.sum(is_new).over(wrun))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "events_dedup_latest_state",
    oracle="""
        SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    covers="2.9 expansion (latest-state per key: dropDuplicates-ordered pattern)",
)
def events_dedup_latest_state(spark, t):
    """Latest event per user — the batch form of streaming 'latest state'
    (deduplicate keeping the max-timestamp row per key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


@query(
    "events_json_schema_parse",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(MIN(CAST(props->>'$.k' AS INTEGER)) AS INT) AS min_k,
               CAST(MAX(CAST(props->>'$.k' AS INTEGER)) AS INT) AS max_k,
               CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type
    """,
    covers="expansion 2.8 (from_json schema-on-read struct parse + aggregate)",
)
def events_json_schema_parse(spark, t):
    """Parse the JSON props column against a declared schema
    (``from_json`` -> struct, the columnar alternative to per-path
    ``get_json_object``: one parse, all fields) and aggregate a typed
    field. At 100 TB you parse once into a struct column at ingest, not
    per query."""
    parsed = t["events"].withColumn(
        "p", F.from_json("props", "k INT")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.sum("p.k").cast("bigint").alias("sum_k"),
    )


@query(
    "events_funnel_conversion",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS first_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        )
        SELECT v.user_id, v.first_view, MIN(e.ts) AS first_purchase
        FROM v
        JOIN events e
          ON e.user_id = v.user_id
         AND e.event_type = 'purchase'
         AND e.ts > v.first_view
        GROUP BY v.user_id, v.first_view
    """,
    covers="expansion 2.5/2.8: funnel analysis (ordered event-sequence "
    "detection: first view -> first later purchase per user)",
)
def events_funnel_conversion(spark, t):
    """Conversion funnel: for every user who viewed, the first purchase
    strictly AFTER their first view — the standard product-analytics
    ordered-sequence question.

    ONE scan, ONE per-user aggregate (r08 A/B, sf10 same-session
    min-of-3: 0.50 s vs the previous two-scan rollup+join form's 0.89 s
    — pre-filtering that form's shared scan changed nothing, so the
    second scan + join fan-out was the whole gap): the single groupBy
    collects first_view as a conditional MIN and the user's purchase
    timestamps as a sorted array in the same pass; the answer is the
    first array element past first_view (try_element_at(filter(...), 1), a
    codegen'd array probe). The one exchange carries per-user partial
    state keyed on user_id.

    Per-key bound: the array holds ONE user's purchase events —
    human-bounded in any real log, and ObjectHashAggregate spills per
    partition. A corpus with pathological machine accounts (millions of
    purchases under one key) routes back to the two-rollup join form
    this replaced (git history / the A/B above), which never
    materializes a per-user list."""
    ev = t["events"].where(F.col("event_type").isin("view", "purchase"))
    g = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("ps"),
    )
    # try_element_at: a viewer with no purchase after the first view has
    # an empty filtered array, which element_at rejects under ANSI mode
    # (INVALID_ARRAY_INDEX_IN_ELEMENT_AT); NULL drops the user below.
    first_purchase = F.try_element_at(
        F.filter("ps", lambda x: x > F.col("first_view")), F.lit(1)
    )
    return (
        g.where(F.col("first_view").isNotNull())
        .select(
            "user_id", "first_view", first_purchase.alias("first_purchase")
        )
        .where(F.col("first_purchase").isNotNull())
    )


@query(
    "events_retention_cohorts",
    oracle="""
        WITH firsts AS (
            SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   CAST(DATE_DIFF('week', f.cohort_week,
                                  DATE_TRUNC('week', e.ts)) AS BIGINT) AS week_offset
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        )
        SELECT cohort_week, week_offset, COUNT(*) AS n_users
        FROM active GROUP BY cohort_week, week_offset
    """,
    covers="expansion 2.4/2.8: cohort retention matrix (first-touch cohort "
    "x active-week offset)",
)
def events_retention_cohorts(spark, t):
    """Weekly retention: users grouped by first-touch week, counted in every
    later week they were active — the cohort matrix behind any retention
    curve.

    One MIN rollup per user (map-side combine), one user_id equi-join to
    tag each event with its user's cohort, a distinct on (user, cohort,
    offset) and the final count — all exchanges keyed on user_id until the
    tiny final rollup, so a 100 TB event log reuses one partitioning.
    Week arithmetic must agree across engines: both sides bucket with
    DATE_TRUNC('week', ...) (Monday-start ISO weeks in Spark and DuckDB)
    and the offset is the whole-week difference of the two buckets."""
    ev = t["events"]
    # DuckDB's DATE_TRUNC('week') yields DATE; match the type exactly.
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    week_offset = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
    ).cast("long")
    active = (
        ev.join(firsts, "user_id")
        .select("user_id", "cohort_week", week_offset.alias("week_offset"))
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


@query(
    "events_path_trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || e2 || '>' || e3 AS path,
               COUNT(*) AS n
        FROM seq
        WHERE event_type IS NOT NULL
          AND e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path
        LIMIT 20
    """,
    covers="pipeline: behavioral sequence mining (per-user event-path "
    "trigrams, top-k)",
)
def events_path_trigrams(spark, t):
    """Top-20 three-step event-type paths across all users — the sequence
    n-gram primitive behind funnel discovery and next-event models.

    The per-user ordering (ts, event_id — a total order, so LEAD is
    deterministic) is one user_id shuffle; the trigram rollup's shuffle
    carries (path, partial count) with map-side combine — at 100 TB the
    heavy exchange is the same single user partition every sessionization
    pass already pays, and the path dictionary is tiny (|event types|^3).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    # every leg filtered non-null BEFORE concat: concat_ws silently SKIPS
    # nulls while the oracle's || propagates them — with the filter the two
    # agree; without it a null event_type would collapse to a 2-gram here
    # but a NULL path there.
    return (
        seq.where(
            F.col("event_type").isNotNull()
            & F.col("e2").isNotNull()
            & F.col("e3").isNotNull()
        )
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@query(
    "events_user_outliers",
    oracle="""
        WITH per_user AS (
            SELECT user_id, COUNT(*) AS n_events
            FROM events GROUP BY user_id
        ),
        stats AS (
            SELECT COUNT(*) AS n,
                   SUM(n_events) AS sx,
                   CAST(SUM(CAST(n_events AS HUGEINT) * n_events) AS DOUBLE)
                       AS sxx
            FROM per_user
        )
        SELECT u.user_id, u.n_events,
               CASE WHEN s.n > 1 AND (s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n) > 0
                    THEN (u.n_events - CAST(s.sx AS DOUBLE) / s.n)
                         / SQRT((s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n)
                                / (s.n - 1))
               END AS z,
               COALESCE(ABS(
                   CASE WHEN s.n > 1 AND (s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n) > 0
                        THEN (u.n_events - CAST(s.sx AS DOUBLE) / s.n)
                             / SQRT((s.sxx - CAST(s.sx AS DOUBLE) * s.sx / s.n)
                                    / (s.n - 1))
                   END) > 2.0, FALSE) AS is_outlier
        FROM per_user u, stats s
    """,
    covers="pipeline: activity outlier detection (z-score from exact "
    "integer moment sums, broadcast scalar stats)",
)
def events_user_outliers(spark, t):
    """Per-user activity z-scores against the corpus mean, flagging >2
    sigma — the bot/spam-user filter a training pipeline runs before
    sampling interaction data.

    Determinism: the mean and variance come from exact INTEGER moment sums
    (counts and squared counts are longs), so both engines derive
    bit-identical doubles — the same order-independence trick as
    agg_variance_stddev (the one-pass stddev estimators merge partials in
    nondeterministic order). Degenerate corpora (one user, or every user
    with an identical count) have zero variance: z is NULL and no row is
    flagged — guarded identically on both engines, since an unguarded
    double division raises under Spark's ANSI mode while DuckDB emits
    inf/NaN. Scale shape: one user_id rollup (map-side combined), a 1-row
    global aggregate of THAT rollup, broadcast back as a literal join —
    the corpus-sized data never moves twice.
    """
    per_user = t["events"].groupBy("user_id").agg(F.count("*").alias("n_events"))
    # sxx must not wrap: a skewed 100 TB corpus can push sum(count^2) past
    # 2^63 (one user with >3e9 events already overflows the product), and
    # the DuckDB oracle widens BIGINT sums to int128 — so both engines
    # accumulate the squares exactly in wide integers (decimal(38,0) here,
    # HUGEINT there) and round to double once, at the same exact value.
    ne_wide = F.col("n_events").cast("decimal(19,0)")
    stats = per_user.agg(
        F.count("*").alias("n"),
        F.sum("n_events").alias("sx"),
        F.sum(ne_wide * ne_wide).cast("double").alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    ss = F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    # (sxx is already double on both engines; sx stays a long — its square
    # is computed in double, matching the oracle's CAST(sx AS DOUBLE) * sx)
    z = F.when(
        (F.col("n") > 1) & (ss > 0),
        (F.col("n_events") - mean) / F.sqrt(ss / (F.col("n") - 1)),
    )
    return (
        per_user.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_events",
            z.alias("z"),
            F.coalesce(F.abs(z) > 2.0, F.lit(False)).alias("is_outlier"),
        )
    )


@query(
    "events_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ),
        trans AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        ),
        outs AS (SELECT from_type, SUM(n) AS n_out FROM trans GROUP BY 1)
        SELECT t.from_type, t.to_type, t.n,
               CAST(t.n AS DOUBLE) / o.n_out AS prob
        FROM trans t JOIN outs o ON t.from_type = o.from_type
    """,
    covers="expansion 2.5/2.8: first-order Markov transition matrix "
    "(behavioral model fit: per-user event sequences -> row-normalized "
    "transition probabilities)",
)
def events_markov_transitions(spark, t):
    """First-order Markov chain over per-user event sequences: transition
    counts and row-normalized probabilities — the behavioral model behind
    next-action prediction and anomaly scoring (a transition with
    near-zero learned probability is the anomaly).

    The probability is one IEEE division of two exact counts, so both
    engines emit identical doubles. One user_id shuffle feeds the lag
    window; the transition rollup's key space is |event_types|^2 (25
    cells here), so the final aggregation and the row-normalizing join
    are dimension-sized however large the event log is."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    )
    trans = (
        seq.where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
    )
    outs = trans.groupBy("from_type").agg(F.sum("n").alias("n_out"))
    return trans.join(F.broadcast(outs), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_out")).alias("prob"),
    )


@query(
    "events_funnel_timeboxed",
    oracle="""
        WITH fv AS (
            SELECT user_id, MIN(ts) AS first_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        conv AS (
            SELECT f.user_id
            FROM fv f JOIN events e
              ON e.user_id = f.user_id
             AND e.event_type = 'purchase'
             AND e.ts > f.first_view
             AND e.ts <= f.first_view + INTERVAL 7 DAY
            GROUP BY f.user_id
        )
        SELECT CAST(f.first_view AS DATE) AS view_day,
               COUNT(*) AS n_viewers,
               CAST(COUNT(c.user_id) AS BIGINT) AS n_converted
        FROM fv f LEFT JOIN conv c ON f.user_id = c.user_id
        GROUP BY 1
    """,
    covers="expansion 2.4/2.8: TIME-BOXED conversion funnel (attribution "
    "window — converted iff a purchase lands within 7 days of the first "
    "view), cohorted by first-view day",
)
def events_funnel_timeboxed(spark, t):
    """The attribution-window form of the conversion funnel — the number
    product analytics actually reports: a viewer counts as converted only
    if a purchase lands within 7 days AFTER their first view, cohorted by
    first-view day. Same one-scan/one-aggregate plan as
    events_funnel_conversion (conditional MIN + sorted purchase array per
    user in a single pass; the window bound is one more predicate in the
    codegen'd array probe), then a day-grain rollup — two exchanges
    total, the second dimension-sized. The oracle takes the classic
    two-join SQL form, so the array-probe shortcut is value-verified
    against the textbook plan."""
    ev = t["events"].where(F.col("event_type").isin("view", "purchase"))
    g = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("ps"),
    )
    bound = F.col("first_view") + F.expr("INTERVAL 7 DAYS")
    converted = F.exists(
        "ps", lambda x: (x > F.col("first_view")) & (x <= bound)
    )
    return (
        g.where(F.col("first_view").isNotNull())
        .groupBy(F.col("first_view").cast("date").alias("view_day"))
        .agg(
            F.count("*").alias("n_viewers"),
            F.sum(converted.cast("long")).alias("n_converted"),
        )
    )
