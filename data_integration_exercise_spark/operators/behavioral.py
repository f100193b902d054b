"""Behavioral / product-analytics workloads over the events log.

Funnel conversion and cohort retention are the two queries every
event-log consumer runs; both reduce to keyed min-aggregations and integer
week arithmetic, so they are hash-verifiable and scale as a handful of
shuffles on user_id.

Time discipline: all arithmetic on epoch-µs BIGINTs (``ts_us`` from
io.load_table; ``epoch_ns(ts) // 1000`` in oracles) — the events parquet
carries sub-µs nanoseconds that float math would corrupt.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.encode import cents, cents_sql
from ..io import load_table
from ..registry_util import new_registry

QUERIES, ORACLES, register = new_registry()

_WEEK_US = 7 * 86_400 * 1_000_000
_SESSION_GAP_US = 30 * 60 * 1_000_000  # classic 30-minute inactivity rule


@register(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, min(epoch_ns(ts) // 1000) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
        SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND epoch_ns(e.ts) // 1000 > s.t0
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > v.t1
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup,
           (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_signup_view,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_signup_view_purchase
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel conversion signup → view → purchase: each stage keeps
    users whose earliest qualifying event strictly follows their previous
    stage's timestamp (min-aggregation per stage, semi-join to the prior
    stage — never a per-user sequence scan). Three user-keyed shuffles
    total; the stage frontier shrinks monotonically, so at 100 TB each
    successive join is smaller than the last."""
    e = load_table(spark, sf_dir, "events")

    def stage(event_type, prior, prior_t, t_name):
        cand = e.filter(F.col("event_type") == event_type).select(
            "user_id", F.col("ts_us")
        )
        if prior is None:
            out = cand.groupBy("user_id").agg(F.min("ts_us").alias(t_name))
            return out
        return (
            cand.join(prior, "user_id")
            .filter(F.col("ts_us") > F.col(prior_t))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias(t_name))
        )

    s = stage("signup", None, None, "t0")
    v = stage("view", s, "t0", "t1")
    p = stage("purchase", v, "t1", "t2")
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_signup_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_signup_view_purchase"))))
    )


@register(
    "events_retention_cohorts",
    oracle=f"""
    WITH firstw AS (
        SELECT user_id,
               min(epoch_ns(ts) // 1000) // {_WEEK_US} AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // {_WEEK_US} AS week
        FROM events
    )
    SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity a JOIN firstw f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, a.week - f.cohort_week
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users bucketed by first-active epoch-week,
    counted in every subsequent week they reappear (week_offset 0 is the
    cohort's own size). (user, week) activity is pre-distincted so the
    count is exact without count(distinct) in the final rollup; integer
    week ids come from epoch-µs floor-division, identical in both engines.
    Two user-keyed shuffles + one small rollup."""
    e = load_table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {_WEEK_US}").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.expr(f"ts_us div {_WEEK_US}").alias("week")
    ).distinct()
    return (
        activity.join(firstw, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "events_sessionize",
    oracle=f"""
    WITH x AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
               CASE WHEN epoch_ns(ts) // 1000
                         - lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) > {_SESSION_GAP_US}
                         OR lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), y AS (
        SELECT user_id, t,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_idx
        FROM x
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT)    AS n_events,
           min(t)                      AS t_start,
           max(t)                      AS t_end
    FROM y
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark, sf_dir):
    """Batch sessionization: the standard 30-minute-inactivity session cut
    done as lag-gap flag + running sum per user — one user-keyed shuffle,
    then a per-(user, session) rollup that reuses the same partitioning.
    Ordering is made total with event_id as tiebreaker (both engines), so
    separate window passes can never disagree on tied timestamps. At 100 TB
    this is the shape to keep: state
    is one window over user_id (Spark re-sorts within partitions, no global
    sort), and the alternative — session_window in a stream — is the
    streaming twin already shipped as stream_session."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1
        ).when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("t_start"),
        F.max("ts_us").alias("t_end"),
    )


@register(
    "events_entropy_mix",
    oracle="""
    WITH h AS (
        SELECT event_type, hour(ts) AS hr, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, hour(ts)
    ), t AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot FROM h
        GROUP BY event_type
    ), pk AS (
        SELECT event_type, hr AS peak_hour,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, hr ASC) AS rn
        FROM h
    )
    SELECT h.event_type,
           t.tot AS n_events,
           round(-sum((CAST(h.cnt AS DOUBLE) / t.tot)
                      * log2(CAST(h.cnt AS DOUBLE) / t.tot)), 4) AS entropy_bits,
           CAST(count(*) AS BIGINT) AS active_hours,
           any_value(pk.peak_hour) AS peak_hour
    FROM h
    JOIN t ON h.event_type = t.event_type
    JOIN pk ON h.event_type = pk.event_type AND pk.rn = 1
    GROUP BY h.event_type, t.tot
    """,
)
def events_entropy_mix(spark, sf_dir):
    """Temporal-mix entropy per event type: the Shannon entropy (bits) of
    each type's hour-of-day distribution, its active-hour count and peak
    hour — the activity-spread diagnostic that separates always-on machine
    traffic (entropy ≈ log2(24)) from bursty human behavior. Probabilities
    are ratios of exact integer counts, so log2 sees identical doubles in
    both engines (the text_tfidf precedent); the sum is rounded at 4dp per
    the float-aggregate discipline.

    100 TB: one (type, hour) groupBy — at most 24·|types| rows — then
    broadcast-sized joins; the event scan is the only big pass."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    t = h.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("tot"))
    w = Window.partitionBy("event_type").orderBy(F.col("cnt").desc(), F.col("hr").asc())
    pk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hr").alias("peak_hour"))
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    return (
        h.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "tot")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
            F.count("*").cast("long").alias("active_hours"),
        )
        .join(F.broadcast(pk), "event_type")
        .select(
            "event_type",
            F.col("tot").alias("n_events"),
            "entropy_bits",
            "active_hours",
            "peak_hour",
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), tot AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM trans
        GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n,
           round(CAST(t.n AS DOUBLE) / tt.row_total, 4) AS p
    FROM trans t JOIN tot tt ON t.prev_type = tt.prev_type
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event stream:
    per-user sequences ordered by (epoch-µs, event_id) — the deterministic
    total order both engines agree on — lagged into (prev → next) pairs,
    counted, and row-normalized into transition probabilities. The
    behavior model that feeds next-action prediction and anomalous-session
    scoring. p is a single division of exact integers, so both engines
    round identical doubles.

    100 TB: one user-partitioned window (sessions are contiguous per
    task), then a |types|² aggregate — the matrix is tiny regardless of
    event volume."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").cast("long").alias("row_total"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_total"), 4).alias("p"),
    )


_LOOKBACK_US = 24 * 3_600 * 1_000_000  # attribution lookback window


@register(
    "events_attribution",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_ns(ts) // 1000 AS t,
               {cents_sql('value')} AS cents
        FROM events
    ), tagged AS (
        SELECT event_type, t, cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN t END IGNORE NULLS) OVER w AS touch_t
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CASE WHEN touch_t IS NOT NULL AND t - touch_t <= {_LOOKBACK_US}
                THEN touch_type ELSE 'none' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution(spark, sf_dir):
    """Last-touch conversion attribution: each purchase is credited to the
    user's most recent click/view within a 24 h lookback, else 'none' —
    the channel-revenue readout every marketing pipeline produces. The
    carry-forward is one ignore-nulls last_value over the per-user event
    sequence (ordered by the deterministic (epoch-µs, event_id) total
    order), so no self-join of purchases against touches is ever built;
    revenue sums exact integer cents.

    100 TB: one user-keyed window pass over the log plus a |channels|-row
    rollup — the same shape as sessionization, and the alternative
    (range-join purchases×touches then argmax per purchase) shuffles the
    touch stream twice and is quadratic inside hot users."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("click", "view")
    tagged = e.select(
        "event_type",
        "ts_us",
        cents("value").alias("cents"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(is_touch, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("touch_t"),
    )
    channel = F.when(
        F.col("touch_t").isNotNull()
        & (F.col("ts_us") - F.col("touch_t") <= _LOOKBACK_US),
        F.col("touch_type"),
    ).otherwise("none")
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), med AS (
        SELECT event_type, CAST(median(n_events) AS DOUBLE) AS med
        FROM daily GROUP BY event_type
    ), dev AS (
        SELECT d.event_type, d.day, d.n_events, m.med,
               abs(d.n_events - m.med) AS dev
        FROM daily d JOIN med m ON d.event_type = m.event_type
    ), mad AS (
        SELECT event_type, CAST(median(dev) AS DOUBLE) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n_events, d.med, a.mad,
           (a.mad > 0 AND d.dev > 3 * a.mad) AS is_anomaly
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust daily-volume anomaly flags per event type via median absolute
    deviation: |n − median| > 3·MAD — the outlier rule that, unlike the
    z-score (win_zscore_outliers), is not itself dragged by the outliers
    it hunts. All inputs are integer daily counts, so the two medians and
    every derived quantity are exact dyadic rationals (halves/quarters —
    both engines interpolate the two middle values with exact IEEE
    halving), making the strict > comparison engine-stable with no
    rounding guard. MAD = 0 (a constant week) flags nothing by the
    explicit mad > 0 conjunct rather than flagging everything.

    100 TB: the fact scan reduces to |types|·|days| rows map-side; medians
    run on that tiny frame; joins broadcast."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    med = daily.groupBy("event_type").agg(
        F.median("n_events").cast("double").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("dev").cast("double").alias("mad"))
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "n_events",
        "med",
        "mad",
        ((F.col("mad") > 0) & (F.col("dev") > 3 * F.col("mad"))).alias("is_anomaly"),
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), span AS (
        SELECT du.user_id, t.d AS day
        FROM du CROSS JOIN (SELECT unnest(range(7)) AS off) o
        JOIN LATERAL (SELECT du.day + to_days(CAST(o.off AS INTEGER)) AS d) t
          ON TRUE
    ), wau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM span GROUP BY day
    )
    SELECT dau.day, dau.dau, wau.wau,
           CAST(1000 * dau.dau // wau.wau AS BIGINT) AS stickiness_permille
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def events_dau_wau(spark, sf_dir):
    """DAU/WAU stickiness per day — the product-health ratio of daily
    actives to trailing-7-day actives. The trailing-distinct count is the
    interesting distributed problem: a sliding count(DISTINCT) has no
    window form, so each (user, active-day) pair EXPLODES forward onto
    the 7 days it keeps the user "weekly active" for, turning the sliding
    distinct into a plain per-day distinct count — the standard
    time-decay trick that stays one shuffle. Stickiness is an integer
    permille floor-division. Days at the end of the observed range count
    trailing windows that extend past the data; both engines agree
    because the construction is identical.

    100 TB: the explode is ×7 on the DEDUPLICATED (user, day) frame (far
    smaller than the event log), then one distinct-count shuffle keyed by
    day."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    span = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    wau = span.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("1000 * dau div wau").cast("long").alias("stickiness_permille"),
    )


@register(
    "events_churn_hazard",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               min(epoch_ns(ts) // 1000) AS first_us,
               max(epoch_ns(ts) // 1000) AS last_us
        FROM events GROUP BY user_id
    ), cut AS (
        SELECT max(last_us) AS corpus_end FROM u
    ), lif AS (
        SELECT user_id,
               (last_us - first_us) // {_WEEK_US} AS lifespan_w,
               last_us > (SELECT corpus_end FROM cut) - {_WEEK_US}
                   AS censored
        FROM u
    ), risk AS (
        SELECT l.lifespan_w, l.censored, t.w
        FROM lif l, unnest(range(l.lifespan_w + 1)) AS t(w)
    )
    SELECT CAST(w AS BIGINT) AS week,
           CAST(count(*) AS BIGINT) AS n_at_risk,
           CAST(sum(CASE WHEN w = lifespan_w AND NOT censored
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           CAST(sum(CASE WHEN w = lifespan_w AND censored
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_censored,
           CAST(1000 * sum(CASE WHEN w = lifespan_w AND NOT censored
                                THEN 1 ELSE 0 END) // count(*) AS BIGINT)
               AS hazard_permille
    FROM risk GROUP BY w
    """,
)
def events_churn_hazard(spark, sf_dir):
    """Weekly churn-hazard life table (the discrete Kaplan-Meier input):
    each user's lifespan in weeks runs from first to last event; users
    whose last event falls inside the final observed week are CENSORED
    (still alive at the cut — counting them as churned is the classic
    retention-analysis mistake this op models correctly). For each week
    w: n_at_risk (lifespan ≥ w), n_churned (lifespan ended at w,
    uncensored), n_censored, and the hazard d_w/n_w in integer permille.
    The survival curve is the running product of (1 − hazard) — left to
    the consumer because a float product has no cross-engine exactness
    guarantee, while this life table is pure integers.

    100 TB: one per-user min/max aggregate, then each user explodes onto
    lifespan+1 week rows (bounded by the observation span, not event
    volume) and a |weeks|-row rollup — event count never appears
    downstream of the first aggregate."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts_us").alias("first_us"), F.max("ts_us").alias("last_us")
    )
    cut = u.agg(F.max("last_us").alias("corpus_end"))
    lif = u.crossJoin(F.broadcast(cut)).select(
        "user_id",
        F.expr(f"(last_us - first_us) div {_WEEK_US}").alias("lifespan_w"),
        (F.col("last_us") > F.col("corpus_end") - _WEEK_US).alias("censored"),
    )
    risk = lif.withColumn(
        "w", F.explode(F.sequence(F.lit(0).cast("long"), F.col("lifespan_w")))
    )
    end_here = F.col("w") == F.col("lifespan_w")
    churn = F.sum(F.when(end_here & ~F.col("censored"), 1).otherwise(0))
    return risk.groupBy(F.col("w").cast("long").alias("week")).agg(
        F.count("*").cast("long").alias("n_at_risk"),
        churn.cast("long").alias("n_churned"),
        F.sum(F.when(end_here & F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("n_censored"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN w = lifespan_w AND NOT censored "
            "THEN 1 ELSE 0 END) div count(*) AS BIGINT)"
        ).alias("hazard_permille"),
    )


@register(
    "events_bot_detection",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_ns(ts) // 1000
               - lag(epoch_ns(ts) // 1000) OVER (
                     PARTITION BY user_id
                     ORDER BY epoch_ns(ts) // 1000, event_id) AS gap
        FROM events
    ), m AS (
        SELECT user_id,
               CAST(count(gap) AS BIGINT) AS n_gaps,
               CAST(sum(CAST(gap AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS s2
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id HAVING count(gap) >= 20
    )
    SELECT user_id, n_gaps,
           CAST(s1 // n_gaps AS BIGINT) AS mean_gap_us,
           CAST(1000000 * (n_gaps * s2 - s1 * s1) // (s1 * s1) AS BIGINT)
               AS cv2_e6,
           (1000000 * (n_gaps * s2 - s1 * s1) // (s1 * s1)) < 200000
               AS flag_regular
    FROM m
    """,
)
def events_bot_detection(spark, sf_dir):
    """Bot/automation detection via inter-event-time regularity: humans
    produce bursty gaps (coefficient of variation ≈ 1 for Poisson-like
    arrivals, higher with sessions), schedulers and scripts produce
    metronomic ones (CV ≪ 1). Per user: CV² in exact integer micro-units
    — cv²·10⁶ = 10⁶·(n·Σg² − (Σg)²) / (Σg)² from HUGEINT/decimal moment
    sums of µs gaps ((Σg)² tops int64 at ~month-long spans), one integer
    floor-division, flag at CV² < 0.2. The same integer-moment discipline
    as agg_ab_ttest, applied to the abuse-detection feature every event
    pipeline computes; users need ≥ 20 gaps so the statistic is
    meaningful.

    100 TB: one user-keyed window for gaps (the sessionization shuffle),
    one partial-agg moment rollup — no user's raw events ever leave its
    partition."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = e.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    m = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("s1"),
            F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).alias("s2"),
        )
        .filter(F.col("n_gaps") >= 20)
    )
    cv2 = F.expr(
        "CAST(1000000 AS DECIMAL(38,0)) * (n_gaps * s2 - s1 * s1) div (s1 * s1)"
    )
    return m.select(
        "user_id",
        "n_gaps",
        F.expr("CAST(s1 div n_gaps AS BIGINT)").alias("mean_gap_us"),
        cv2.cast("long").alias("cv2_e6"),
        (cv2 < 200000).alias("flag_regular"),
    )


_DAY_US = 86_400 * 1_000_000


@register(
    "events_rfm_segments",
    oracle=f"""
    WITH pur AS (
        SELECT user_id,
               epoch_ns(ts) // 1000 // {_DAY_US} AS day,
               {cents_sql('value')} AS cents
        FROM events WHERE event_type = 'purchase'
    ), u AS (
        SELECT user_id,
               CAST(max(day) AS BIGINT) AS last_day,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(cents) AS BIGINT) AS monetary_cents
        FROM pur GROUP BY user_id
    ), g AS (
        SELECT CAST(max(last_day) AS BIGINT) AS gday,
               CAST(count(*) AS BIGINT) AS n
        FROM u
    ), m AS (
        SELECT u.user_id, g.gday - u.last_day AS recency_days,
               u.frequency, u.monetary_cents, g.n
        FROM u CROSS JOIN g
    ), rd AS (
        SELECT recency_days AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY recency_days) AS le
        FROM m GROUP BY recency_days
    ), fd AS (
        SELECT frequency AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY frequency) AS le
        FROM m GROUP BY frequency
    ), md AS (
        SELECT monetary_cents AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY monetary_cents) AS le
        FROM m GROUP BY monetary_cents
    )
    SELECT m.user_id, m.recency_days, m.frequency, m.monetary_cents,
           CAST(1 + 5 * (m.n - rd.le) // m.n AS BIGINT) AS r_score,
           CAST(1 + 5 * (fd.le - fd.c) // m.n AS BIGINT) AS f_score,
           CAST(1 + 5 * (md.le - md.c) // m.n AS BIGINT) AS m_score,
           CAST(100 * (1 + 5 * (m.n - rd.le) // m.n)
                + 10 * (1 + 5 * (fd.le - fd.c) // m.n)
                + (1 + 5 * (md.le - md.c) // m.n) AS BIGINT) AS rfm
    FROM m
    JOIN rd ON m.recency_days = rd.v
    JOIN fd ON m.frequency = fd.v
    JOIN md ON m.monetary_cents = md.v
    """,
)
def events_rfm_segments(spark, sf_dir):
    """RFM customer segmentation over purchase events: recency (days since
    last purchase, vs the corpus max day), frequency, monetary (exact
    cents), each scored 1-5 by HISTOGRAM quintiles — score = 1 + 5·(#users
    strictly worse) div n, computed from the metric's value-distribution
    rollup, NOT a per-user ntile. Equal metric values therefore share a
    score (no arbitrary tie split), and the construction needs no global
    per-user sort: the only windows run over the distinct-VALUE rollups
    (recency ≤ the date span in days, frequency ≤ max purchases per user,
    monetary ≤ the distinct spend levels), each orders of magnitude
    smaller than the user population, then broadcast-join back.

    100 TB: one user-keyed groupBy, three bounded rollup windows, three
    broadcast joins — the per-user ntile(5) a naive RFM uses would be a
    single-partition global sort; this shape never sorts users at all."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    u = e.select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day"),
        cents("value").alias("cents"),
    ).groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count("*").cast("long").alias("frequency"),
        F.sum("cents").alias("monetary_cents"),
    )
    g = u.agg(
        F.max("last_day").alias("gday"), F.count("*").cast("long").alias("n")
    )
    m = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        (F.col("gday") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary_cents",
        "n",
    )

    def dist(metric):
        w = (
            Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # bounded global window: runs over the distinct-VALUE rollup only
        return (
            m.groupBy(F.col(metric).alias("v"))
            .agg(F.count("*").alias("c"))
            .select("v", "c", F.sum("c").over(w).alias("le"))
        )

    rd, fd, md = dist("recency_days"), dist("frequency"), dist("monetary_cents")
    j = (
        m.join(F.broadcast(rd.withColumnsRenamed({"v": "recency_days", "c": "rc", "le": "rle"})), "recency_days")
        .join(F.broadcast(fd.withColumnsRenamed({"v": "frequency", "c": "fc", "le": "fle"})), "frequency")
        .join(F.broadcast(md.withColumnsRenamed({"v": "monetary_cents", "c": "mc", "le": "mle"})), "monetary_cents")
    )
    r_s = F.expr("1 + 5 * (n - rle) div n")
    f_s = F.expr("1 + 5 * (fle - fc) div n")
    m_s = F.expr("1 + 5 * (mle - mc) div n")
    return j.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_s.cast("long").alias("r_score"),
        f_s.cast("long").alias("f_score"),
        m_s.cast("long").alias("m_score"),
        (r_s * 100 + f_s * 10 + m_s).cast("long").alias("rfm"),
    )


@register(
    "events_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)
    )
    SELECT event_type AS e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def events_path_trigrams(spark, sf_dir):
    """User-journey path analysis: every 3-step event-type sequence
    (trigram) across all users, with exact counts — the Markov-transition
    operator's higher-order sibling, the query behind "what do users do
    right before purchasing?". Event order is the deterministic
    (ts_us, event_id) total order, so identical across engines and
    partitionings.

    100 TB: one user-keyed window (two leads, values move, nothing sums)
    + one rollup bounded by |event_types|³ = 125 rows regardless of SF —
    the classic sequence-explosion shape where output stays tiny while
    input scales."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("long").alias("n_paths"))
    )


@register(
    "events_cohort_ltv",
    oracle=f"""
    WITH pur AS (
        SELECT user_id,
               epoch_ns(ts) // 1000 // {_WEEK_US} AS week,
               {cents_sql('value')} AS cents
        FROM events WHERE event_type = 'purchase'
    ), firstw AS (
        SELECT user_id, min(week) AS cohort_week FROM pur GROUP BY user_id
    ), csize AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
        FROM firstw GROUP BY cohort_week
    ), wk AS (
        SELECT f.cohort_week, p.week - f.cohort_week AS week_offset,
               CAST(sum(p.cents) AS BIGINT) AS revenue_cents
        FROM pur p JOIN firstw f ON p.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT w.cohort_week, w.week_offset, c.n_users, w.revenue_cents,
           CAST(sum(w.revenue_cents) OVER (
                PARTITION BY w.cohort_week ORDER BY w.week_offset)
                AS BIGINT) AS cum_revenue_cents,
           CAST(sum(w.revenue_cents) OVER (
                PARTITION BY w.cohort_week ORDER BY w.week_offset)
                // c.n_users AS BIGINT) AS ltv_per_user_cents
    FROM wk w JOIN csize c ON w.cohort_week = c.cohort_week
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: users cohorted by first-purchase
    epoch-week; for each (cohort, weeks-since-acquisition) the exact
    revenue, the running cumulative revenue, and the per-user LTV
    (truncating division) — retention's revenue-weighted companion, the
    curve every growth team reads. Exact integer cents and week ids
    end to end.

    100 TB: one user-keyed min-groupBy (cohort assignment), one
    (user→cohort) broadcast-back join, one (cohort, offset) rollup, then
    a cumulative window PARTITIONED by cohort over the ≤ weeks² offset
    rows — never over users. Same shuffle budget as
    events_retention_cohorts plus one bounded window."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pur = e.select(
        "user_id",
        F.expr(f"ts_us div {_WEEK_US}").alias("week"),
        cents("value").alias("cents"),
    )
    firstw = pur.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    csize = firstw.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("n_users")
    )
    wk = (
        pur.join(firstw, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        wk.join(F.broadcast(csize), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_users",
            "revenue_cents",
            F.sum("revenue_cents").over(wcum).alias("cum_revenue_cents"),
            F.expr(
                """CAST(sum(revenue_cents) OVER (
                       PARTITION BY cohort_week ORDER BY week_offset
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       div n_users AS BIGINT)"""
            ).alias("ltv_per_user_cents"),
        )
    )


@register(
    "events_funnel_latency",
    oracle="""
    WITH s AS (
        SELECT user_id, min(epoch_ns(ts) // 1000) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
        SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND epoch_ns(e.ts) // 1000 > s.t0
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > v.t1
        GROUP BY e.user_id
    ), sv AS (
        SELECT v.t1 - s.t0 AS lat FROM s JOIN v ON s.user_id = v.user_id
    ), vp AS (
        SELECT p.t2 - v.t1 AS lat FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT 'signup_to_view' AS stage_pair,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(lat) AS BIGINT) AS min_latency_us,
           CAST(median(lat) AS DOUBLE) AS median_latency_us,
           CAST(max(lat) AS BIGINT) AS max_latency_us
    FROM sv
    UNION ALL
    SELECT 'view_to_purchase', CAST(count(*) AS BIGINT), CAST(min(lat) AS BIGINT),
           CAST(median(lat) AS DOUBLE), CAST(max(lat) AS BIGINT)
    FROM vp
    """,
)
def events_funnel_latency(spark, sf_dir):
    """Time-to-convert per funnel stage pair: for users who progressed
    signup→view→purchase (the events_funnel stage semantics verbatim —
    earliest qualifying event strictly after the prior stage), the min /
    median / max inter-stage latency in µs. Latencies are exact integer
    µs, so the median is an exact dyadic rational (the events_anomaly_mad
    argument) — engine-stable with no rounding guard.

    100 TB: the three stage frontiers are user-keyed min-groupBys that
    shrink monotonically; latency frames join on user_id; each median
    runs over one stage-pair's conversions. Same shuffle budget as
    events_funnel plus two small aggregates."""
    e = load_table(spark, sf_dir, "events")

    def stage(event_type, prior, prior_t, t_name):
        cand = e.filter(F.col("event_type") == event_type).select(
            "user_id", F.col("ts_us")
        )
        if prior is None:
            return cand.groupBy("user_id").agg(F.min("ts_us").alias(t_name))
        return (
            cand.join(prior, "user_id")
            .filter(F.col("ts_us") > F.col(prior_t))
            .groupBy("user_id")
            .agg(F.min("ts_us").alias(t_name))
        )

    s = stage("signup", None, None, "t0")
    v = stage("view", s, "t0", "t1")
    p = stage("purchase", v, "t1", "t2")

    def lat_summary(frame, name):
        return frame.agg(
            F.count("*").cast("long").alias("n_users"),
            F.min("lat").alias("min_latency_us"),
            F.median("lat").cast("double").alias("median_latency_us"),
            F.max("lat").alias("max_latency_us"),
        ).select(F.lit(name).alias("stage_pair"), "*")

    sv = s.join(v, "user_id").select((F.col("t1") - F.col("t0")).alias("lat"))
    vp = v.join(p, "user_id").select((F.col("t2") - F.col("t1")).alias("lat"))
    return lat_summary(sv, "signup_to_view").unionByName(
        lat_summary(vp, "view_to_purchase")
    )


@register(
    "events_bounce_rate",
    oracle=f"""
    WITH x AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
               CASE WHEN epoch_ns(ts) // 1000
                         - lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) > {_SESSION_GAP_US}
                         OR lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), y AS (
        SELECT user_id, t,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_idx
        FROM x
    ), sess AS (
        SELECT user_id, session_idx,
               CAST(count(*) AS BIGINT) AS n_events,
               min(t) // {_DAY_US} AS day
        FROM y GROUP BY user_id, session_idx
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS bounce_permille
    FROM sess GROUP BY day
    """,
)
def events_bounce_rate(spark, sf_dir):
    """Daily bounce rate: share of sessions (30-min-gap sessionization,
    the events_sessionize cut verbatim) containing exactly one event,
    bucketed by session-start day — integer permille via truncating
    division, everything exact.

    100 TB: identical shuffle shape to events_sessionize (one user-keyed
    window + per-session rollup reusing the partitioning), then a
    day-level rollup bounded by the calendar."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = (
        flagged.withColumn(
            "session_idx",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr(f"min(ts_us) div {_DAY_US}").alias("day"),
        )
    )
    return sess.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("bounce_permille"),
    )


@register(
    "events_new_vs_returning",
    oracle=f"""
    WITH activity AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // {_DAY_US} AS day
        FROM events
    ), first_day AS (
        SELECT user_id, min(day) AS d0 FROM activity GROUP BY user_id
    )
    SELECT a.day,
           CAST(sum(CASE WHEN a.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(sum(CASE WHEN a.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning,
           CAST(1000 * sum(CASE WHEN a.day > f.d0 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS returning_permille
    FROM activity a JOIN first_day f ON a.user_id = f.user_id
    GROUP BY a.day
    """,
)
def events_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning active-user split — the growth-accounting
    companion to DAU/WAU: each (user, day) activity row is 'new' iff the
    day is the user's first-ever active day. Exact integer day ids and a
    truncating permille.

    100 TB: one distinct on (user, day), one user-keyed min, one
    broadcast-back join, one calendar-bounded rollup — the
    events_retention_cohorts shuffle budget."""
    e = load_table(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day")
    ).distinct()
    first_day = activity.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        activity.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
            F.expr(
                "CAST(1000 * sum(CASE WHEN day > d0 THEN 1 ELSE 0 END)"
                " div count(*) AS BIGINT)"
            ).alias("returning_permille"),
        )
    )


_7D_US = 7 * 86_400 * 1_000_000


@register(
    "events_feature_pit",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_ns(ts) // 1000 AS t,
               {cents_sql('value')} AS cents
        FROM events
    ), feat AS (
        SELECT user_id, event_id, event_type, t,
               count(*) OVER w - 1 AS n_events_7d,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER w
                   - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS n_purchases_7d,
               sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
                   OVER w
                   - CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END
                   AS spend_cents_7d
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY t
                     RANGE BETWEEN {_7D_US} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, t AS label_t_us,
           CAST(n_events_7d AS BIGINT) AS n_events_7d,
           CAST(n_purchases_7d AS BIGINT) AS n_purchases_7d,
           CAST(spend_cents_7d AS BIGINT) AS spend_cents_7d
    FROM feat WHERE event_type = 'purchase'
    """,
)
def events_feature_pit(spark, sf_dir):
    """Point-in-time feature extraction — the leakage-free training-set
    query a feature store exists to answer: for every purchase (label)
    event, the user's trailing-7-day activity count, purchase count, and
    spend, computed STRICTLY BEFORE the label. One RANGE-framed window
    per user over exact integer µs does it without any self-join: the
    frame ends at CURRENT ROW and the label row's own contribution is
    subtracted arithmetically — subtracting the current row is exact and
    engine-stable, whereas a `1 PRECEDING` range bound would silently
    include same-timestamp peer events on one engine and not the other
    only if tie order differed; with the subtraction form, same-µs peers
    are consistently INCLUDED on both (they are in the frame either
    way).

    100 TB: one user-keyed shuffle, one sorted RANGE window — the
    classic leakage trap (joining TODAY's aggregate onto yesterday's
    label) needs a second pass; this shape cannot leak by construction
    because the frame is bounded at the label's own timestamp."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts_us").alias("t"),
        cents("value").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-_7D_US, Window.currentRow)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    p_cents = F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
    feat = e.select(
        "user_id",
        "event_id",
        "event_type",
        "t",
        (F.count("*").over(w) - 1).cast("long").alias("n_events_7d"),
        (F.sum(is_p).over(w) - is_p).cast("long").alias("n_purchases_7d"),
        (F.sum(p_cents).over(w) - p_cents).cast("long").alias("spend_cents_7d"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.col("t").alias("label_t_us"),
        "n_events_7d",
        "n_purchases_7d",
        "spend_cents_7d",
    )


@register(
    "events_peak_concurrency",
    oracle=f"""
    WITH x AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
               CASE WHEN epoch_ns(ts) // 1000
                         - lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) > {_SESSION_GAP_US}
                         OR lag(epoch_ns(ts) // 1000) OVER (
                               PARTITION BY user_id
                               ORDER BY epoch_ns(ts) // 1000, event_id
                           ) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), y AS (
        SELECT user_id, t,
               sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_idx
        FROM x
    ), sess AS (
        SELECT user_id, session_idx, min(t) AS s, max(t) AS e
        FROM y GROUP BY user_id, session_idx
    ), segs AS (
        SELECT user_id, session_idx, d.day,
               greatest(s, d.day * {_DAY_US}) AS seg_s,
               least(e, (d.day + 1) * {_DAY_US} - 1) AS seg_e
        FROM sess,
             unnest(range(s // {_DAY_US}, e // {_DAY_US} + 1)) AS d(day)
    ), pts AS (
        SELECT day, seg_s AS t, 1 AS delta, user_id, session_idx FROM segs
        UNION ALL
        SELECT day, seg_e + 1 AS t, -1, user_id, session_idx FROM segs
    ), run AS (
        SELECT day,
               sum(delta) OVER (
                   PARTITION BY day
                   ORDER BY t, delta DESC, user_id, session_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS conc
        FROM pts
    )
    SELECT r.day, CAST(max(r.conc) AS BIGINT) AS peak_concurrency,
           CAST(count(DISTINCT (s.user_id, s.session_idx)) AS BIGINT)
               AS n_sessions_touching
    FROM run r JOIN segs s ON r.day = s.day
    GROUP BY r.day
    """,
)
def events_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day — the capacity-planning sweep-line
    query: sessions (the 30-min-gap cut) SPLIT AT MIDNIGHT into per-day
    segments, each segment emits a +1/−1 event pair, and the day's peak
    is the max of the running sum over the (time, +1-before-−1,
    session-id) total order — closed intervals, so a session ending the
    exact µs another starts counts both. The midnight split is what
    makes the sweep scale: every window partitions BY DAY, never
    globally; a session spanning days contributes a segment to each.

    100 TB: sessionization is the standard user-keyed window; the sweep
    is a day-partitioned window over 2·segments rows. For a day whose
    event volume alone overwhelms one partition, the sweep sub-shards by
    time range with per-shard offsets — the surrogate-keys composition —
    but the DAY partition is the natural unit every capacity dashboard
    uses."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0),
    )
    sess = (
        flagged.withColumn(
            "session_idx",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"))
    )
    segs = sess.select(
        "user_id",
        "session_idx",
        F.explode(
            F.expr(f"sequence(s div {_DAY_US}, e div {_DAY_US})")
        ).alias("day"),
        "s",
        "e",
    ).select(
        "user_id",
        "session_idx",
        "day",
        F.greatest(F.col("s"), F.col("day") * _DAY_US).alias("seg_s"),
        F.least(F.col("e"), (F.col("day") + 1) * _DAY_US - 1).alias("seg_e"),
    )
    pts = segs.select(
        "day", F.col("seg_s").alias("t"), F.lit(1).alias("delta"), "user_id", "session_idx"
    ).unionByName(
        segs.select(
            "day",
            (F.col("seg_e") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_idx",
        )
    )
    ws = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc(), F.col("user_id"), F.col("session_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(ws).alias("conc"))
    peaks = run.groupBy("day").agg(F.max("conc").cast("long").alias("peak_concurrency"))
    touching = segs.groupBy("day").agg(
        F.count_distinct("user_id", "session_idx").cast("long").alias(
            "n_sessions_touching"
        )
    )
    return peaks.join(touching, "day")


@register(
    "events_cumulative_reach",
    oracle=f"""
    WITH first_day AS (
        SELECT user_id, min(epoch_ns(ts) // 1000 // {_DAY_US}) AS d0
        FROM events GROUP BY user_id
    ), per_day AS (
        SELECT d0 AS day, CAST(count(*) AS BIGINT) AS n_new
        FROM first_day GROUP BY d0
    )
    SELECT day, n_new,
           CAST(sum(n_new) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumulative_reach
    FROM per_day
    """,
)
def events_cumulative_reach(spark, sf_dir):
    """Cumulative audience reach: running count of DISTINCT users ever
    seen, by day. A running count(DISTINCT) has no window form at any
    scale — the standard rewrite attributes each user to their FIRST
    active day once, and the cumulative sum of new-user counts over the
    calendar IS the distinct reach (each user contributes exactly once).

    100 TB: one user-keyed min, one day rollup, one window bounded by
    the calendar — the rewrite turns an impossible running-distinct into
    three cheap passes, which is why every growth dashboard computes
    reach this way."""
    e = load_table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.expr(f"min(ts_us div {_DAY_US})").alias("d0")
    )
    per_day = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # bounded global window: one row per calendar day
    return per_day.select(
        "day", "n_new", F.sum("n_new").over(w).cast("long").alias("cumulative_reach")
    )


_10MIN_US = 10 * 60 * 1_000_000


@register(
    "events_velocity_flags",
    oracle=f"""
    WITH p AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, t AS t_us,
           CAST(count(*) OVER w AS BIGINT) AS n_in_10min,
           count(*) OVER w > 3 AS is_velocity_flag
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY t
                 RANGE BETWEEN {_10MIN_US} PRECEDING AND CURRENT ROW)
    """,
)
def events_velocity_flags(spark, sf_dir):
    """Fraud velocity rule: flag any purchase that is the 4th-or-later in
    its user's trailing 10-minute window — the classic card-testing /
    bot-burst detector, as one RANGE-framed count per user over exact
    integer µs (the events_feature_pit frame shape, inclusive of the
    current event — velocity rules count the triggering transaction).

    100 TB: one user-keyed sorted window, no self-join — the rule
    engines that matter run exactly this shape in both batch backtests
    and the streaming twin (a watermarked sliding count)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_10MIN_US, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.col("ts_us").alias("t_us"),
        F.count("*").over(w).cast("long").alias("n_in_10min"),
        (F.count("*").over(w) > 3).alias("is_velocity_flag"),
    )


_DAY_US = 86_400 * 1_000_000


@register(
    "events_survival_km",
    oracle=f"""
    WITH s AS (
        SELECT user_id, min(epoch_ns(ts) // 1000) AS t0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, min(epoch_ns(e.ts) // 1000) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > s.t0
        GROUP BY e.user_id
    ), cut AS (
        SELECT max(epoch_ns(ts) // 1000) AS corpus_end FROM events
    ), dur AS (
        SELECT s.user_id,
               CASE WHEN p.t1 IS NOT NULL THEN (p.t1 - s.t0) // {_DAY_US}
                    ELSE ((SELECT corpus_end FROM cut) - s.t0) // {_DAY_US}
               END AS d,
               CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM s LEFT JOIN p ON s.user_id = p.user_id
    ), hist AS (
        SELECT d, CAST(sum(ev) AS BIGINT) AS n_events,
               CAST(count(*) - sum(ev) AS BIGINT) AS n_censored
        FROM dur GROUP BY d
    ), risk AS (
        SELECT d, n_events, n_censored,
               CAST(sum(n_events + n_censored)
                    OVER (ORDER BY d DESC) AS BIGINT) AS n_risk
        FROM hist
    ), steps AS (
        SELECT d, n_events, n_censored, n_risk,
               n_events = n_risk AS surv_is_zero,
               CASE WHEN n_events < n_risk
                    THEN CAST(floor(1e6 * log2(CAST(n_risk - n_events AS DOUBLE)
                                               / n_risk) + 1e-6) AS BIGINT)
                    ELSE 0 END AS step_log2_micro
        FROM risk WHERE n_events > 0
    )
    SELECT CAST(d AS BIGINT) AS day, n_risk, n_events, n_censored, surv_is_zero,
           CASE WHEN surv_is_zero THEN NULL
                ELSE CAST(sum(step_log2_micro) OVER (ORDER BY d) AS BIGINT)
           END AS surv_log2_micro
    FROM steps
    """,
)
def events_survival_km(spark, sf_dir):
    """Kaplan-Meier product-limit survival curve for signup→purchase
    conversion latency: per user, days from first signup to first
    subsequent purchase; users who never convert are RIGHT-CENSORED at the
    corpus end (the honest handling — dropping them biases the curve
    down). At each conversion day d the risk set n_i counts everyone with
    duration ≥ d (censored-at-d users stay at risk through d, the standard
    convention), and the survival curve is the running product
    Π(1 − dᵢ/nᵢ) — carried as an exact integer SUM of per-step
    floor(10⁶·log2((n−d)/n) + 1e-6) micro-bits (the text_bigram_lm_score
    libm-guard discipline: each step is one guarded transcendental of an
    exact small-integer ratio; the accumulation is exact integer
    addition). If the final conversion day exhausts the risk set the curve
    hits exactly zero — that terminal row carries ``surv_is_zero = true``
    and an honest NULL log-survival (log 0 is undefined, and faking a
    sentinel would corrupt downstream arithmetic). Complements
    events_churn_hazard: that op emits per-week
    hazards, this one the cumulative survival function of a DIFFERENT
    duration (conversion latency, not lifespan).

    100 TB: two user-keyed min-aggregations + one left join build the
    duration table; the life-table suffix-sum window runs on the
    ≤ 30-row day histogram — per-user data never reaches a window."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts_us")
        .join(s, "user_id")
        .filter(F.col("ts_us") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    cut = e.agg(F.max("ts_us").alias("corpus_end"))
    dur = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(cut))
        .select(
            F.when(
                F.col("t1").isNotNull(), F.expr(f"(t1 - t0) div {_DAY_US}")
            )
            .otherwise(F.expr(f"(corpus_end - t0) div {_DAY_US}"))
            .alias("d"),
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    hist = dur.groupBy("d").agg(
        F.sum("ev").cast("long").alias("n_events"),
        (F.count("*") - F.sum("ev")).cast("long").alias("n_censored"),
    )
    w_desc = Window.orderBy(F.col("d").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # bounded global windows: one row per distinct duration day (≤ corpus span)
    risk = hist.select(
        "d",
        "n_events",
        "n_censored",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w_desc)
        .cast("long")
        .alias("n_risk"),
    )
    steps = (
        risk.filter(F.col("n_events") > 0)
        .withColumn("surv_is_zero", F.col("n_events") == F.col("n_risk"))
        .withColumn(
            "step_log2_micro",
            F.when(
                F.col("n_events") < F.col("n_risk"),
                F.floor(
                    F.lit(1e6)
                    * F.log2(
                        (F.col("n_risk") - F.col("n_events")).cast("double")
                        / F.col("n_risk")
                    )
                    + F.lit(1e-6)
                ).cast("long"),
            ).otherwise(F.lit(0)),
        )
    )
    w_asc = Window.orderBy("d").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select(
        F.col("d").cast("long").alias("day"),
        "n_risk",
        "n_events",
        "n_censored",
        "surv_is_zero",
        F.when(
            ~F.col("surv_is_zero"),
            F.sum("step_log2_micro").over(w_asc).cast("long"),
        ).alias("surv_log2_micro"),
    )


@register(
    "events_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day,
               CAST(sum({cents_sql('value')}) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), scored AS (
        SELECT a.event_type, a.day, a.cents AS actual_cents,
               f.cents AS forecast_cents,
               CAST(1000 * abs(a.cents - f.cents) // a.cents AS BIGINT)
                   AS ape_permille
        FROM daily a JOIN daily f
          ON a.event_type = f.event_type AND a.day = f.day + 7
        WHERE a.cents > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(ape_permille) // count(*) AS BIGINT) AS mape_permille,
           CAST(1000 * sum(forecast_cents - actual_cents)
                // sum(actual_cents) AS BIGINT) AS bias_permille
    FROM scored GROUP BY event_type
    """,
)
def events_forecast_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: forecast(day) = actual(day − 7)
    per event type (the same-weekday-last-week baseline every real
    forecaster must beat), scored as integer MAPE permille and a signed
    aggregate bias permille over all scoreable days. The lag is an exact
    self-JOIN on (type, day − 7), not a row-offset lag — missing days
    cannot silently misalign the season. All arithmetic is exact cents
    with truncating division, so the scorecard hashes identically across
    engines.

    100 TB: one day-grain rollup (map-side combined) and a self-join on
    the bounded (type, day) frame — forecast evaluation rides the rollup,
    never the raw event log."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.expr("ts_us div 86400000000").alias("day")
    ).agg(F.sum(cents("value")).alias("cents"))
    a = daily.select(
        "event_type", "day", F.col("cents").alias("actual_cents")
    )
    f = daily.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("cents").alias("forecast_cents"),
    )
    scored = (
        a.join(f, ["event_type", "day"])
        .filter(F.col("actual_cents") > 0)
        .select(
            "event_type",
            "actual_cents",
            "forecast_cents",
            F.expr(
                "CAST(1000 * abs(actual_cents - forecast_cents) "
                "div actual_cents AS BIGINT)"
            ).alias("ape_permille"),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days_scored"),
        F.expr("CAST(sum(ape_permille) div count(*) AS BIGINT)").alias(
            "mape_permille"
        ),
        F.expr(
            """CAST(1000 * sum(forecast_cents - actual_cents)
                    div sum(actual_cents) AS BIGINT)"""
        ).alias("bias_permille"),
    )


@register(
    "events_window_funnel",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events
        WHERE event_type IN ('signup', 'view', 'purchase')
    ), d1 AS (
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'signup'
    ), d2 AS (
        SELECT DISTINCT s.user_id
        FROM ev s JOIN ev v ON v.user_id = s.user_id
        WHERE s.event_type = 'signup' AND v.event_type = 'view'
          AND v.t > s.t AND v.t <= s.t + {_WEEK_US}
    ), d3 AS (
        SELECT DISTINCT s.user_id
        FROM ev s
        JOIN ev v ON v.user_id = s.user_id
        JOIN ev p ON p.user_id = s.user_id
        WHERE s.event_type = 'signup' AND v.event_type = 'view'
          AND p.event_type = 'purchase'
          AND v.t > s.t AND p.t > v.t AND p.t <= s.t + {_WEEK_US}
    ), counts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM d1) AS c1,
               (SELECT CAST(count(*) AS BIGINT) FROM d2) AS c2,
               (SELECT CAST(count(*) AS BIGINT) FROM d3) AS c3
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(n_users AS BIGINT) AS n_users,
           CAST((1000 * reached) // c1 AS BIGINT) AS reach_permille
    FROM (
        SELECT 1 AS depth, c1 - c2 AS n_users, c1 AS reached, c1 FROM counts
        UNION ALL SELECT 2, c2 - c3, c2, c1 FROM counts
        UNION ALL SELECT 3, c3, c3, c1 FROM counts
    )
    """,
)
def events_window_funnel(spark, sf_dir):
    """Time-bounded funnel (the windowFunnel operator of product-analytics
    engines): a user reaches depth k only if signup < view < purchase all
    land within 7 days of THAT signup — unlike events_funnel, whose stages
    are unbounded, this anchors the whole sequence to a single window, the
    semantics behind 'converted within a week of signing up'. Reached-depth
    sets come from existential per-user joins (signup×view, then ×purchase,
    time-windowed in the join condition — never a per-user sequence scan);
    the output is the exact-depth distribution with reach permille against
    all signup users. Strictly ordered (>, not >=), window measured from
    the anchoring signup.

    100 TB: three user-keyed equi-joins whose right sides shrink with each
    depth; the window predicate rides the join, so candidate pairs are
    pruned in-join rather than materialized. Multi-signup users are handled
    by the existential semantics (ANY anchoring signup qualifies) — no
    per-anchor state."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "view", "purchase")
    )
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us").alias("t0")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("uv"), F.col("ts_us").alias("t1")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("up"), F.col("ts_us").alias("t2")
    )
    d1 = s.select("user_id").distinct()
    sv = s.join(
        v,
        (s.user_id == v.uv) & (v.t1 > s.t0) & (v.t1 <= s.t0 + _WEEK_US),
    )
    d2 = sv.select("user_id").distinct()
    d3 = (
        sv.join(
            p,
            (sv.user_id == p.up)
            & (p.t2 > sv.t1)
            & (p.t2 <= sv.t0 + _WEEK_US),
        )
        .select("user_id")
        .distinct()
    )
    counts = (
        d1.agg(F.count(F.lit(1)).cast("long").alias("c1"))
        .crossJoin(F.broadcast(d2.agg(F.count(F.lit(1)).cast("long").alias("c2"))))
        .crossJoin(F.broadcast(d3.agg(F.count(F.lit(1)).cast("long").alias("c3"))))
    )
    tiers = counts.selectExpr(
        "stack(3, 1L, c1 - c2, c1, 2L, c2 - c3, c2, 3L, c3, c3) "
        "AS (depth, n_users, reached)",
        "c1",
    )
    return tiers.select(
        "depth",
        F.col("n_users").cast("long").alias("n_users"),
        F.expr("CAST((1000 * reached) div nullif(c1, 0) AS BIGINT)").alias(
            "reach_permille"
        ),
    )


@register(
    "events_user_lifecycle",
    oracle="""
    WITH ua AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), fd AS (
        SELECT user_id, min(day) AS first_day FROM ua GROUP BY 1
    ), prev AS (
        SELECT user_id, day + 1 AS day FROM ua
    ), j AS (
        SELECT coalesce(ua.user_id, prev.user_id) AS user_id,
               coalesce(ua.day, prev.day) AS day,
               ua.user_id IS NOT NULL AS act,
               prev.user_id IS NOT NULL AS pact
        FROM ua FULL OUTER JOIN prev
            ON ua.user_id = prev.user_id AND ua.day = prev.day
    )
    SELECT j.day,
           CAST(count(*) FILTER (j.act AND fd.first_day = j.day) AS BIGINT)
               AS n_new,
           CAST(count(*) FILTER (j.act AND j.pact) AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (j.act AND NOT j.pact
                                 AND fd.first_day < j.day) AS BIGINT)
               AS n_resurrected,
           CAST(count(*) FILTER (j.pact AND NOT j.act) AS BIGINT)
               AS n_churned,
           CAST(count(*) FILTER (j.act AND fd.first_day = j.day) AS BIGINT)
           + CAST(count(*) FILTER (j.act AND NOT j.pact
                                   AND fd.first_day < j.day) AS BIGINT)
           - CAST(count(*) FILTER (j.pact AND NOT j.act) AS BIGINT)
               AS net_growth
    FROM j JOIN fd ON j.user_id = fd.user_id
    GROUP BY j.day
    """,
)
def events_user_lifecycle(spark, sf_dir):
    """Growth accounting — the product-analytics ledger that explains
    every change in the daily active count: per day, NEW users (first-ever
    active day), RETAINED (active today and yesterday), RESURRECTED
    (active today, absent yesterday, seen before) and CHURNED (active
    yesterday, absent today — attributed to today), with the identity
    ΔDAU(d) = new + resurrected − churned holding by construction (tested
    against events_dau_wau's DAU series). events_new_vs_returning splits
    activity two ways; this is the full four-state ledger a growth team
    reads. The day-after-the-window row carries the final churn and zero
    actives — the honest ledger boundary.

    100 TB: one distinct (user, day) rollup — map-side combined — then a
    self full-outer join on (user, day±1) and a broadcast-scale first-day
    lookup; everything shuffles once on user_id-dominated keys, no
    window over raw events."""
    e = load_table(spark, sf_dir, "events")
    ua = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().localCheckpoint(eager=False)  # 3 refs: both join sides + fd
    fd = ua.groupBy("user_id").agg(F.min("day").alias("first_day"))
    prev = ua.select("user_id", F.date_add("day", 1).alias("day"))
    j = ua.withColumn("act", F.lit(True)).join(
        prev.withColumn("pact", F.lit(True)),
        ["user_id", "day"],
        "full_outer",
    )
    j = j.join(F.broadcast(fd), "user_id")
    act = F.col("act").isNotNull()
    pact = F.col("pact").isNotNull()
    new = F.count(F.when(act & (F.col("first_day") == F.col("day")), True))
    res = F.count(
        F.when(act & ~pact & (F.col("first_day") < F.col("day")), True)
    )
    churn = F.count(F.when(pact & ~act, True))
    return j.groupBy("day").agg(
        new.cast("long").alias("n_new"),
        F.count(F.when(act & pact, True)).cast("long").alias("n_retained"),
        res.cast("long").alias("n_resurrected"),
        churn.cast("long").alias("n_churned"),
        (new + res - churn).cast("long").alias("net_growth"),
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_ns(ts) // 1000
                 - lag(epoch_ns(ts) // 1000) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_ns(ts) // 1000, event_id) AS gap_us
        FROM events
    ), gg AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us ASC) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM g WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           any_value(n) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
                + max(CASE WHEN rn = n // 2 + 1 THEN gap_us END)
                AS DOUBLE) / 2000000.0 AS median_gap_s,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
                AS DOUBLE) / 1000000.0 AS p90_gap_s,
           round(CAST(sum(gap_us) AS DOUBLE) / any_value(n) / 1000000.0, 4)
               AS mean_gap_s
    FROM gg
    GROUP BY event_type
    """,
)
def events_interarrival_stats(spark, sf_dir):
    """Per-type interarrival distribution: for each event type, the exact
    min / median / p90 / max / mean of the per-user consecutive-event gaps
    — the burstiness profile that separates heartbeat traffic (tight
    unimodal gaps) from human sessions (heavy right tail). Medians and p90
    are EXPLICIT order statistics (row_number positions computed in integer
    arithmetic, the even-n median as ``(lo + hi) / 2e6`` on exact BIGINT
    µs) rather than engine quantile functions, so Spark and DuckDB cannot
    disagree on interpolation rules; the mean is the one float aggregate
    and follows the round-4dp discipline on an exact integer sum.

    100 TB: the gap pass is one (user, type)-keyed window — the same
    shuffle shape as sessionization. The order-statistic pass partitions
    by event_type only (|types| partitions): exact per-type medians
    fundamentally need a per-type total order, so at real scale this is
    the query you run AFTER a type filter, or you switch to the sketch
    twin (`agg_quantile_sketch`) — that trade is the point of shipping
    both. Gap rows are 2 columns (16 bytes) so a 10^9-gap type still
    sorts in one executor's spill budget."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts_us", "event_id")
    wu = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    g = (
        e.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(wu))
        .filter(F.col("gap_us").isNotNull())
        .select("event_type", "gap_us")
    )
    wt = Window.partitionBy("event_type").orderBy(F.col("gap_us").asc())
    wn = Window.partitionBy("event_type")
    gg = g.withColumn("rn", F.row_number().over(wt)).withColumn(
        "n", F.count(F.lit(1)).over(wn).cast("long")
    )
    n = F.col("n")
    med_lo = F.max(F.when(F.col("rn") == F.floor((n + 1) / 2), F.col("gap_us")))
    med_hi = F.max(F.when(F.col("rn") == F.floor(n / 2) + 1, F.col("gap_us")))
    p90_pos = F.floor((9 * n + 9) / 10)  # ceil(0.9n) without float literals
    return gg.groupBy("event_type").agg(
        F.any_value("n").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        ((med_lo + med_hi).cast("double") / F.lit(2000000.0)).alias("median_gap_s"),
        (
            F.max(F.when(F.col("rn") == p90_pos, F.col("gap_us"))).cast("double")
            / F.lit(1000000.0)
        ).alias("p90_gap_s"),
        F.round(
            F.sum("gap_us").cast("double") / F.any_value("n") / F.lit(1000000.0), 4
        ).alias("mean_gap_s"),
    )


# Split boundary for the two capture occasions: the first 15 days of the
# operative events month vs the rest (FIXTURES.md: events span 2024-01).
_CAPTURE_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16 00:00:00 UTC, epoch-µs


@register(
    "events_capture_recapture",
    oracle="""
    WITH f AS (
        SELECT event_type, user_id,
               max(CASE WHEN epoch_ns(ts) // 1000 < 1705363200000000
                        THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN epoch_ns(ts) // 1000 >= 1705363200000000
                        THEN 1 ELSE 0 END) AS in_b
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(sum(in_a) AS BIGINT) AS n_capture,
           CAST(sum(in_b) AS BIGINT) AS n_recapture,
           CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
           CAST(count(*) AS BIGINT) AS n_observed,
           round(CAST((sum(in_a) + 1) * (sum(in_b) + 1) AS DOUBLE)
                 / (sum(in_a * in_b) + 1) - 1, 4) AS n_hat_chapman,
           CAST(1000 * count(*)
                // ((CAST(sum(in_a) + 1 AS BIGINT) * (sum(in_b) + 1))
                    // (sum(in_a * in_b) + 1) - 1)
                AS BIGINT) AS coverage_permille
    FROM f
    GROUP BY event_type
    """,
)
def events_capture_recapture(spark, sf_dir):
    """Capture-recapture population estimate per event type: treat the
    first 15 days of the events month and the remainder as two capture
    occasions and apply the Chapman estimator
    N̂ = (n_A+1)(n_B+1)/(m+1) − 1 to the per-type distinct-user counts —
    the mark-recapture trick ecology uses for animal populations and
    growth teams use to estimate the true audience a sparse event log only
    partially observes. All inputs are exact integer distinct counts, the
    estimator is one division of exact integers (round-4dp discipline),
    and coverage (observed / N̂) is integer permille via truncating
    division on the floor-valued estimate.

    100 TB: ONE shuffle on (event_type, user_id) with map-side combine
    into per-user occasion flags — the same distinct-rollup shape as
    events_user_lifecycle — then a |types|-row rollup. No second distinct
    pass per occasion: both flags come from the same grouped scan."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id", "ts_us")
    f = e.groupBy("event_type", "user_id").agg(
        F.max(
            F.when(F.col("ts_us") < _CAPTURE_SPLIT_US, 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("ts_us") >= _CAPTURE_SPLIT_US, 1).otherwise(0)
        ).alias("in_b"),
    )
    na = F.sum("in_a")
    nb = F.sum("in_b")
    m = F.sum(F.col("in_a") * F.col("in_b"))
    return f.groupBy("event_type").agg(
        na.cast("long").alias("n_capture"),
        nb.cast("long").alias("n_recapture"),
        m.cast("long").alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_observed"),
        F.round(
            ((na + 1) * (nb + 1)).cast("double") / (m + 1) - 1, 4
        ).alias("n_hat_chapman"),
        # Spark DIV ≡ DuckDB // on BIGINT (both truncate toward zero, the
        # mining.py precedent) — the floor-valued N̂ keeps permille exact.
        F.expr(
            "CAST(1000 * count(1) DIV ((CAST(sum(in_a) + 1 AS BIGINT)"
            " * (sum(in_b) + 1)) DIV (sum(in_a * in_b) + 1) - 1) AS BIGINT)"
        ).alias("coverage_permille"),
    )


@register(
    "events_markov_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_type
        FROM events
    ), trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ), tot AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total,
               CAST(sum(sum(n)) OVER () AS BIGINT) AS grand_total
        FROM trans GROUP BY prev_type
    ), top AS (
        SELECT prev_type, next_type AS top_next,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY n DESC, next_type ASC) AS rn,
               n AS top_n
        FROM trans
    )
    SELECT t.prev_type,
           tot.row_total AS n_transitions,
           round(-sum((CAST(t.n AS DOUBLE) / tot.row_total)
                      * log2(CAST(t.n AS DOUBLE) / tot.row_total)), 4)
               AS h_next_bits,
           round(-sum((CAST(t.n AS DOUBLE) / tot.grand_total)
                      * log2(CAST(t.n AS DOUBLE) / tot.row_total)), 4)
               AS h_contrib_bits,
           any_value(tp.top_next) AS top_next,
           CAST(1000 * any_value(tp.top_n) // tot.row_total AS BIGINT)
               AS top_next_permille
    FROM trans t
    JOIN tot ON t.prev_type = tot.prev_type
    JOIN top tp ON t.prev_type = tp.prev_type AND tp.rn = 1
    GROUP BY t.prev_type, tot.row_total
    """,
)
def events_markov_entropy(spark, sf_dir):
    """Predictability profile of the behavior chain: for each previous
    event type, the Shannon entropy H(next | prev) of its outgoing
    transition distribution, its weighted contribution
    p(prev)·H(next|prev) to the overall conditional entropy of the chain
    (sum the column for the chain-level number), and the modal next step
    with its permille share — the "how predictable is the next action"
    readout that separates deterministic flows (H→0) from uniform noise
    (H→log2 |types|). Probabilities are ratios of exact integer counts
    (the events_entropy_mix precedent), so log2 sees identical doubles in
    both engines; sums round at 4dp.

    100 TB: identical shuffle shape to events_markov_transitions — one
    user-partitioned window, then |types|²-bounded aggregates; the grand
    total broadcasts as a 1-row BNLJ onto the |types|-row rollup (never a
    global window)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)  # consumers: entropy rollup + top pick
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    grand = trans.agg(F.sum("n").cast("long").alias("grand_total"))
    tot = tot.crossJoin(F.broadcast(grand))  # 1-row BNLJ, never a global window
    wtop = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    top = (
        trans.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("top_next"), F.col("n").alias("top_n"))
    )
    p_row = F.col("n").cast("double") / F.col("row_total")
    p_all = F.col("n").cast("double") / F.col("grand_total")
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .groupBy("prev_type", "row_total")
        .agg(
            F.round(-F.sum(p_row * F.log2(p_row)), 4).alias("h_next_bits"),
            F.round(-F.sum(p_all * F.log2(p_row)), 4).alias("h_contrib_bits"),
        )
        .join(F.broadcast(top), "prev_type")
        .select(
            "prev_type",
            F.col("row_total").alias("n_transitions"),
            "h_next_bits",
            "h_contrib_bits",
            "top_next",
            F.expr("CAST(1000 * top_n DIV row_total AS BIGINT)").alias(
                "top_next_permille"
            ),
        )
    )


# ln(1.2) in micro-nats, floor — the per-event log-rate handicap of the
# s = 1.2 burst state in the Kleinberg cost model below.
_LNS_MICRO = 182_321


@register(
    "events_burst_kleinberg",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), prep AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cnt) AS BIGINT) AS total,
               list(cnt ORDER BY day) AS cs,
               list(day ORDER BY day) AS days
        FROM daily GROUP BY event_type
    ), init AS (
        SELECT event_type, n, days,
               1000000 * total // n AS r0,
               cs
        FROM prep
    ), rec AS (
        SELECT event_type, n, days, r0,
               CAST(0 AS BIGINT) AS d0, r0 // 100 AS d1,
               CAST(0 AS BIGINT) AS m0, CAST(0 AS BIGINT) AS m1,
               CAST(0 AS BIGINT) AS t, cs AS rest
        FROM init
        UNION ALL
        SELECT r.event_type, r.n, r.days, r.r0,
               least(r.d0, r.d1 + r.r0 // 100) AS d0,
               least(r.d1, r.d0 + r.r0 // 100)
                 + (r.r0 // 5 - r.rest[1] * {_LNS_MICRO}) AS d1,
               CASE WHEN r.d0 <= r.d1 + r.r0 // 100 THEN r.m0 ELSE r.m1 END AS m0,
               (CASE WHEN r.d1 <= r.d0 + r.r0 // 100 THEN r.m1 ELSE r.m0 END)
                 + (CAST(1 AS BIGINT) << CAST(r.t AS INT)) AS m1,
               r.t + 1 AS t, r.rest[2:] AS rest
        FROM rec r WHERE len(r.rest) > 0
    ), fin AS (
        SELECT event_type, n, days, r0, t,
               CASE WHEN d0 <= d1 THEN d0 ELSE d1 END AS cost,
               CASE WHEN d0 <= d1 THEN m0 ELSE m1 END AS mask
        FROM rec WHERE t = n
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(r0 AS BIGINT) AS r0_micro,
           CAST(mask AS BIGINT) AS burst_mask,
           CAST(bit_count(mask) AS BIGINT) AS n_burst_days,
           CAST(cost AS BIGINT) AS viterbi_cost_micro,
           CASE WHEN mask = 0 THEN NULL
                ELSE days[CAST(list_filter(range(0, CAST(n AS INT)),
                                           i -> ((mask >> i) & 1) = 1)[1]
                          AS INT) + 1] END AS first_burst_day
    FROM fin
    """,
)
def events_burst_kleinberg(spark, sf_dir):
    """Kleinberg-style 2-state burst detection per event type's daily
    series: a Viterbi fold over states {base rate r0, burst rate s·r0}
    with s = 1.2 — a burst day's extra cost is (s−1)·r0 − n_t·ln(s) (the
    exact Poisson log-likelihood difference; the n_t! and shared terms
    cancel) and a state switch costs γ = 0.01·r0, the hysteresis that
    separates true bursts from single spiky days (γ is the run-length
    knob: at γ = (s−1)·r0 a lone day must beat its own entry AND exit
    toll and nothing fires on a near-uniform feed; 0.01·r0 asks a day or
    short run to clearly beat the threshold). s is the model's
    sensitivity knob: Kleinberg's classic s = 2 only fires on ~1.44×
    surges, which a near-uniform feed never produces — 1.2 makes the
    detector answer "which ~10%-elevated runs are coherent bursts".
    EVERYTHING is integer micro-nats: r0 in micro-events/day via
    truncating division, ln(1.2) as the constant 182321, and the optimal
    state path rides the accumulator as a PACKED
    BITMASK (day t sets bit t) — so path reconstruction needs no backward
    pass and the result is bit-stable across engines and partitionings.
    Tie-break: equal costs prefer staying in the current state (≤).

    100 TB: one map-side-combined day-grain rollup, then a linear
    codegen'd ``aggregate`` HOF fold per type over the calendar-bounded
    series (the win_kalman_filter shape; the oracle replays it with the
    list-peeling recursive CTE). The bitmask caps the foldable series at
    63 days — the operative events feed is a calendar month; longer
    horizons chunk by month and stitch, or widen the mask to an array of
    words. d-values stay ≪ 2⁶³: |cost| ≤ n·(r0 + max_cnt·182321) with
    ~10⁶× headroom at any per-day volume int64 can count."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    prep = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("total"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))), s -> s.cnt)"
        ).alias("cs"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cnt))), s -> s.day)"
        ).alias("days"),
    )
    init = prep.select(
        "event_type",
        "n",
        "days",
        F.expr("1000000 * total DIV n").alias("r0"),
        "cs",
    )
    fold = F.expr(
        f"""
        aggregate(
            cs,
            named_struct('d0', CAST(0 AS BIGINT), 'd1', r0 DIV 100,
                         'm0', CAST(0 AS BIGINT), 'm1', CAST(0 AS BIGINT),
                         't', CAST(0 AS BIGINT)),
            (a, c) -> named_struct(
                'd0', least(a.d0, a.d1 + r0 DIV 100),
                'd1', least(a.d1, a.d0 + r0 DIV 100) + (r0 DIV 5 - c * {_LNS_MICRO}),
                'm0', IF(a.d0 <= a.d1 + r0 DIV 100, a.m0, a.m1),
                'm1', IF(a.d1 <= a.d0 + r0 DIV 100, a.m1, a.m0)
                      + shiftleft(CAST(1 AS BIGINT), CAST(a.t AS INT)),
                't', a.t + 1)
        )
        """
    )
    fin = init.withColumn("acc", fold).select(
        "event_type",
        "n",
        "days",
        "r0",
        F.expr("IF(acc.d0 <= acc.d1, acc.d0, acc.d1)").alias("cost"),
        F.expr("IF(acc.d0 <= acc.d1, acc.m0, acc.m1)").alias("mask"),
    )
    return fin.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("r0").cast("long").alias("r0_micro"),
        F.col("mask").cast("long").alias("burst_mask"),
        F.expr("CAST(bit_count(mask) AS BIGINT)").alias("n_burst_days"),
        F.col("cost").cast("long").alias("viterbi_cost_micro"),
        F.expr(
            """
            CASE WHEN mask = 0 THEN NULL
                 ELSE element_at(days,
                      CAST(element_at(filter(sequence(0, CAST(n AS INT) - 1),
                                             i -> ((mask >> i) & 1) = 1), 1)
                           AS INT) + 1) END
            """
        ).alias("first_burst_day"),
    )


@register(
    "events_tier_migration",
    oracle="""
    WITH uh AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_ns(ts) // 1000 < 1705363200000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN epoch_ns(ts) // 1000 >= 1705363200000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM events GROUP BY user_id
    ), d1 AS (
        SELECT c1 AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY c1) AS le,
               sum(count(*)) OVER () AS n
        FROM uh WHERE c1 > 0 GROUP BY c1
    ), d2 AS (
        SELECT c2 AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY c2) AS le,
               sum(count(*)) OVER () AS n
        FROM uh WHERE c2 > 0 GROUP BY c2
    ), tiers AS (
        SELECT uh.user_id,
               CASE WHEN uh.c1 = 0 THEN 0
                    ELSE 1 + 4 * (d1.le - d1.c) // d1.n END AS tier_first,
               CASE WHEN uh.c2 = 0 THEN 0
                    ELSE 1 + 4 * (d2.le - d2.c) // d2.n END AS tier_second
        FROM uh
        LEFT JOIN d1 ON uh.c1 = d1.v
        LEFT JOIN d2 ON uh.c2 = d2.v
    )
    SELECT CAST(tier_first AS BIGINT) AS tier_first,
           CAST(tier_second AS BIGINT) AS tier_second,
           CAST(count(*) AS BIGINT) AS n_users
    FROM tiers GROUP BY 1, 2
    """,
)
def events_tier_migration(spark, sf_dir):
    """Engagement-tier migration matrix between the two month-halves:
    every user is bucketed into activity quartiles (1-4, by event count,
    via the exact distribution-quantile trick events_rfm_segments uses —
    1 + 4·(users_below)/n, all integer) separately per half, with tier 0
    for absent, and the output is the (tier_first, tier_second) user-count
    matrix — the retention-quality readout ("are heavy users staying
    heavy?") that product reviews actually look at, and the same
    machinery a curation pipeline uses to audit contributor churn.

    100 TB: one (user)-keyed rollup with both half-counts from the same
    scan, two value-distribution rollups (|distinct counts| rows — the
    count domain, not the user count) whose cumulative windows ride that
    bounded axis (UNPARTITIONED_WINDOW_OK, the rfm precedent), broadcast
    joins back, and a ≤ 25-cell matrix out."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    uh = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts_us") < _CAPTURE_SPLIT_US, 1).otherwise(0)
        ).cast("long").alias("c1"),
        F.sum(
            F.when(F.col("ts_us") >= _CAPTURE_SPLIT_US, 1).otherwise(0)
        ).cast("long").alias("c2"),
    ).localCheckpoint(eager=False)  # consumers: both distributions + tiers

    def dist(col):
        w = Window.orderBy("v")
        return (
            uh.filter(F.col(col) > 0)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("le", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("n", F.sum("c").over(Window.partitionBy()))
        )

    d1 = dist("c1").withColumnsRenamed({"v": "v1", "c": "c1c", "le": "le1", "n": "n1"})
    d2 = dist("c2").withColumnsRenamed({"v": "v2", "c": "c2c", "le": "le2", "n": "n2"})
    tiers = (
        uh.join(F.broadcast(d1), uh.c1 == d1.v1, "left")
        .join(F.broadcast(d2), uh.c2 == d2.v2, "left")
        .select(
            F.when(F.col("c1") == 0, 0)
            .otherwise(1 + F.expr("4 * (le1 - c1c) DIV n1"))
            .cast("long")
            .alias("tier_first"),
            F.when(F.col("c2") == 0, 0)
            .otherwise(1 + F.expr("4 * (le2 - c2c) DIV n2"))
            .cast("long")
            .alias("tier_second"),
        )
    )
    return tiers.groupBy("tier_first", "tier_second").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


#: 2024-01-21 00:00:00 UTC in epoch-µs — the markov-eval train/test cutover
#: (first 20 days train, last 10 days test; events span Jan 1-30, measured)
_MARKOV_EVAL_SPLIT_US = 1_705_795_200_000_000


@register(
    "events_markov_eval",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) // 1000, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT event_type AS src, nxt AS dst, ts_us
        FROM seq WHERE nxt IS NOT NULL
    ), train AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM trans
        WHERE ts_us < 1705795200000000 GROUP BY 1, 2
    ), pred AS (
        SELECT src, dst AS predicted FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst ASC) AS rk
            FROM train) WHERE rk = 1
    ), test AS (
        SELECT src, dst FROM trans WHERE ts_us >= 1705795200000000
    )
    SELECT t.src AS event_type, p.predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.dst = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN t.dst = p.predicted THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS accuracy
    FROM test t JOIN pred p ON t.src = p.src
    GROUP BY 1, 2
    """,
)
def events_markov_eval(spark, sf_dir):
    """Backtest of the events_markov_transitions behavior model: train the
    top-1 next-event predictor on the first 20 days (argmax transition
    count per source type, ties broken by type name so both engines pick
    identically), then score it on the last 10 days' transitions —
    per-type test count, hits, and accuracy. The temporal-holdout ML eval
    the transition matrix exists to feed; measured accuracies sit at the
    ~0.2 five-type chance floor because the synthetic stream is
    near-uniform, and pinning THAT honest null is the point (a leaky
    split would read far above chance).

    A transition belongs to train/test by its SOURCE event's timestamp,
    so no pair straddles the cut with label leakage.

    100 TB: one user-partitioned window builds all transitions in a
    single pass; train collapses to the |types|² matrix before the argmax
    window (25 rows); the 5-row predictor broadcasts onto the test
    stream's |types|-row rollup. Nothing fact-scale crosses the cut
    twice."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        e.select(
            F.col("event_type").alias("src"),
            "ts_us",
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    train = (
        trans.filter(F.col("ts_us") < _MARKOV_EVAL_SPLIT_US)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("dst").asc())
    pred = (
        train.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("src", F.col("dst").alias("predicted"))
    )
    test = trans.filter(F.col("ts_us") >= _MARKOV_EVAL_SPLIT_US)
    hit = F.when(F.col("dst") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(F.broadcast(pred), "src")
        .groupBy(F.col("src").alias("event_type"), "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
        )
    )


@register(
    "events_shapley_attribution",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_ns(ts) // 1000 AS t,
               {cents_sql('value')} AS cents
        FROM events
    ), conv AS (
        SELECT user_id, event_id, t, cents FROM e WHERE event_type = 'purchase'
    ), touch AS (
        SELECT user_id, event_type AS channel, t FROM e
        WHERE event_type IN ('click', 'view', 'signup')
    ), coal AS (
        SELECT c.user_id, c.event_id, c.cents,
               coalesce(list_sort(list_distinct(list(tc.channel)
                        FILTER (tc.channel IS NOT NULL))), []) AS chans
        FROM conv c LEFT JOIN touch tc
          ON tc.user_id = c.user_id
         AND tc.t >= c.t - {_LOOKBACK_US} AND tc.t < c.t
        GROUP BY 1, 2, 3
    ), credit AS (
        SELECT CASE WHEN len(chans) = 0 THEN 'none' ELSE unnest(
                   CASE WHEN len(chans) = 0 THEN ['none'] ELSE chans END)
               END AS channel,
               CAST(greatest(len(chans), 1) AS BIGINT) AS k, cents
        FROM coal
    )
    SELECT channel,
           CAST(sum(1000 // k) AS BIGINT) AS shap_conversions_milli,
           CAST(sum((cents * 1000) // k) AS BIGINT) AS shap_revenue_millicents,
           CAST(count(*) FILTER (k = 1) AS BIGINT) AS exclusive_conversions
    FROM credit GROUP BY 1
    """,
)
def events_shapley_attribution(spark, sf_dir):
    """Shapley-value marketing attribution (Shapley 1953; Zhao et al.
    2018, arXiv:1804.05327 "Shapley Value Methods for Attribution
    Modeling"): each purchase's conversion credit is divided among the
    COALITION of distinct touch channels (click/view/signup) the user saw
    in the 24 h lookback. Because the coalition-worth function is
    additive over observed coalitions, the Shapley value collapses to the
    Harsanyi-dividend form φ_ch = Σ_{{conversions ∋ ch}} value/|coalition|
    — an EXACT closed form, no 2^k subset sweep — which this computes in
    integer milli-units (floor-divided equal split; purchases with no
    prior touch credit the 'none' channel). `exclusive_conversions`
    (coalition = {{ch}} alone) separates sole-touch from shared credit;
    contrast with events_attribution's winner-takes-all last-touch.

    100 TB: one user-keyed equi join purchases⋈touches with a time-range
    predicate (co-partitioned on user_id — the same shuffle every funnel
    key uses; per-user event counts bound the fan-out), one per-purchase
    rollup to the distinct-channel coalition, explode (≤3 channels), and
    a |channels|-bounded final rollup. No windows, no collect; all
    integer."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts_us").alias("t"),
        cents("value").alias("cents"),
    )
    conv = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "t", "cents"
    )
    touch = e.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("tu"),
        F.col("event_type").alias("channel"),
        F.col("t").alias("tt"),
    )
    coal = (
        conv.join(
            touch,
            (F.col("tu") == F.col("user_id"))
            & (F.col("tt") >= F.col("t") - _LOOKBACK_US)
            & (F.col("tt") < F.col("t")),
            "left",
        )
        .groupBy("user_id", "event_id", "cents")
        .agg(
            F.array_sort(
                F.array_compact(F.collect_set("channel"))
            ).alias("chans")
        )
    )
    credit = coal.select(
        "cents",
        F.greatest(F.size("chans"), F.lit(1)).cast("long").alias("k"),
        F.explode(
            F.when(F.size("chans") == 0, F.array(F.lit("none"))).otherwise(
                F.col("chans")
            )
        ).alias("channel"),
    )
    return credit.groupBy("channel").agg(
        F.sum(F.expr("1000 div k")).cast("long").alias("shap_conversions_milli"),
        F.sum(F.expr("(cents * 1000) div k"))
        .cast("long")
        .alias("shap_revenue_millicents"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("long")
        .alias("exclusive_conversions"),
    )


@register(
    "events_eventually_follows",
    oracle="""
    WITH span AS (
        SELECT user_id, event_type,
               min(epoch_ns(ts) // 1000) AS first_t,
               max(epoch_ns(ts) // 1000) AS last_t
        FROM events GROUP BY 1, 2
    ), users AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM span
    ), pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_users
        FROM span a JOIN span b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type
         AND a.first_t < b.last_t
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_users,
           CAST((1000 * n_users) // u.nu AS BIGINT) AS share_permille
    FROM pairs, users u
    """,
)
def events_eventually_follows(spark, sf_dir):
    """Eventually-follows relation (van der Aalst 2016, "Process Mining"
    ch. 6 — the EF-graph that seeds every process-discovery algorithm,
    inductive miner included): for each ordered pair of DISTINCT event
    types, how many users have SOME occurrence of A before SOME
    occurrence of B (first(A) < last(B) — the standard existential
    formulation), as a count and an exact permille of the user base.
    The transitive complement to events_markov_transitions'
    directly-follows matrix: DF sees only adjacent steps, EF sees
    ordering at any distance — the difference between the two matrices
    is where process-discovery infers concurrency vs sequence.

    All-integer (epoch-µs min/max, exact permille). 100 TB: one
    (user, type) span rollup — fact-sized shuffle, map-side combinable —
    then a user-keyed self-join whose fan-out is |types|² = 25 per user
    (domain-bounded, never event-fanout), a |types|²-row rollup, and a
    1-row user-count broadcast. No windows, no collect."""
    e = load_table(spark, sf_dir, "events")
    span = e.groupBy("user_id", "event_type").agg(
        F.min("ts_us").alias("first_t"), F.max("ts_us").alias("last_t")
    )
    users = span.agg(
        F.countDistinct("user_id").cast("long").alias("nu")
    )
    b = span.select(
        F.col("user_id").alias("ub"),
        F.col("event_type").alias("type_b"),
        F.col("last_t").alias("last_b"),
    )
    pairs = (
        span.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("event_type") != F.col("type_b"))
            & (F.col("first_t") < F.col("last_b")),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    return pairs.crossJoin(F.broadcast(users)).select(
        "type_a",
        "type_b",
        "n_users",
        F.expr("(1000 * n_users) div nu").cast("long").alias("share_permille"),
    )
