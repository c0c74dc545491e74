package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.OracleRound
import graft.operators.{Relational, Sequence, TextAnalysis, TimeSeries}
import DuckSql._

/** Event-sequence and behavioral analytics (`events_*`) and time series
  * (`ts_*`).
  */
object SequenceQueries {

  val specs: Seq[QuerySpec] = Seq(
    // ── sequence / behavioral analytics ─────────────────────────────────
    // earliest-path funnel: one filtered per-user min-agg per step
    // chained by joins — never a per-user event list
    QuerySpec("events_funnel", (s, d) => Sequence.funnel(s, d),
      // funnel: identical progressive-min chain; mean gaps as exact
      // integer-second sums ÷ counts (never a float-order avg)
      _ =>
        """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
          |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
          |       WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, s1.t1, min(e.ts) AS t2
          |       FROM e JOIN s1 ON s1.user_id = e.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |       GROUP BY e.user_id, s1.t1),
          |s3 AS (SELECT e.user_id, s2.t1, min(e.ts) AS t3
          |       FROM e JOIN s2 ON s2.user_id = e.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |       GROUP BY e.user_id, s2.t1),
          |a1 AS (SELECT count(*) AS n1 FROM s1),
          |a2 AS (SELECT count(*) AS n2,
          |              CAST(sum(date_diff('second', t1, t2)) AS BIGINT) AS sg2 FROM s2),
          |a3 AS (SELECT count(*) AS n3,
          |              CAST(sum(date_diff('second', t1, t3)) AS BIGINT) AS sg3 FROM s3)
          |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
          |       floor(1.0 * 1000000 + 0.5) / 1000000 AS conversion,
          |       CAST(NULL AS DOUBLE) AS avg_gap_seconds
          |FROM a1
          |UNION ALL
          |SELECT 2, 'click', n2,
          |       floor((CAST(n2 AS DOUBLE) / n1) * 1000000 + 0.5) / 1000000,
          |       floor((CAST(sg2 AS DOUBLE) / n2) * 1000000 + 0.5) / 1000000
          |FROM a2 CROSS JOIN a1
          |UNION ALL
          |SELECT 3, 'purchase', n3,
          |       floor((CAST(n3 AS DOUBLE) / n1) * 1000000 + 0.5) / 1000000,
          |       floor((CAST(sg3 AS DOUBLE) / n3) * 1000000 + 0.5) / 1000000
          |FROM a3 CROSS JOIN a1
          |ORDER BY step""".stripMargin),
    // first-order transition matrix: per-user ordered lead + one
    // partial-agg; the normalizer windows over the 5×5 matrix only
    QuerySpec("events_transitions", (s, d) => Sequence.transitions(s, d),
      _ =>
        """WITH p AS (SELECT event_type AS from_type,
          |                  lead(event_type) OVER (PARTITION BY user_id
          |                                         ORDER BY ts, event_id) AS to_type
          |           FROM events),
          |c AS (SELECT from_type, to_type, count(*) AS n
          |      FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
          |SELECT from_type, to_type, n,
          |       floor((CAST(n AS DOUBLE) /
          |              (sum(n) OVER (PARTITION BY from_type))) * 1000000 + 0.5)
          |         / 1000000 AS p
          |FROM c
          |ORDER BY from_type, to_type""".stripMargin),
    // stationary distribution of the transition chain: 5 power-iteration
    // rounds on the event-type grid, from-ordered folds, corpus scanned
    // once for the pair counts
    QuerySpec("events_markov_stationary", (s, d) =>
      Sequence.markovStationary(s, d).orderBy("event_type"),
      // events_markov_stationary: exact-integer row normalization (the
      // only float op is the division), then 5 unrolled mat-vec rounds —
      // each state's new mass a from-ordered list_reduce fold rounded 9 dp,
      // absent inbound mass coalesced to 0 on the state grid
      _ => {
        val steps = (1 to 5).map { t =>
          s"""pi$t AS MATERIALIZED (
           |  SELECT s.event_type, coalesce(u.pi, CAST(0 AS DOUBLE)) AS pi
           |  FROM st s LEFT JOIN (
           |    SELECT pm.to_type AS event_type,
           |           ${r9("list_reduce(list(p0.pi * pm.p ORDER BY pm.from_type), (a, b) -> a + b)")} AS pi
           |    FROM pi${t - 1} p0 JOIN pm ON pm.from_type = p0.event_type
           |    GROUP BY pm.to_type) u ON u.event_type = s.event_type)"""
        }.mkString(",\n")
        s"""WITH pr AS (SELECT event_type AS from_type,
           |                  lead(event_type) OVER (PARTITION BY user_id
           |                                         ORDER BY ts, event_id) AS to_type
           |           FROM events),
           |c AS (SELECT from_type, to_type, count(*) AS n
           |      FROM pr WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
           |pm AS MATERIALIZED (
           |  SELECT from_type, to_type,
           |         CAST(n AS DOUBLE) / (sum(n) OVER (PARTITION BY from_type)) AS p
           |  FROM c),
           |st AS MATERIALIZED (SELECT DISTINCT event_type FROM events),
           |kk AS (SELECT count(*) AS k FROM st),
           |pi0 AS (SELECT event_type, CAST(1 AS DOUBLE) / kk.k AS pi
           |        FROM st CROSS JOIN kk),
           |$steps
           |SELECT event_type,
           |       ${graft.functions.OracleRound.duck("pi", 6)} AS pi
           |FROM pi5
           |ORDER BY event_type""".stripMargin
      }),
    // per-user Markov path NLL (behavioral perplexity): MLE transition
    // model over the (row_number pre-cut) first 256 transitions per
    // user, per-user sequential-fold sum — the session-quality filter
    QuerySpec("events_path_nll", (s, d) => Sequence.pathNll(s, d),
      // path NLL: the identical pre-cut (row_number ≤ 256) feeds BOTH the
      // MLE model and the scoring set; per-user terms folded in idx order
      // (list_reduce's first-element init == the Spark fold's 0.0 init —
      // 0.0 + t1 is bitwise t1), rounded at the edge
      _ =>
        """WITH p AS (
          |  SELECT user_id, event_type AS from_type,
          |         lead(event_type) OVER (PARTITION BY user_id
          |                                ORDER BY ts, event_id) AS to_type,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts, event_id) AS idx
          |  FROM events),
          |tr AS MATERIALIZED (
          |  SELECT * FROM p WHERE to_type IS NOT NULL AND idx <= 256),
          |c AS (SELECT from_type, to_type, count(*) AS n_ft
          |      FROM tr GROUP BY from_type, to_type),
          |f AS (SELECT from_type, sum(n_ft) AS n_f FROM c GROUP BY from_type),
          |m AS (SELECT c.from_type, c.to_type,
          |             ln(CAST(c.n_ft AS DOUBLE) / f.n_f) AS term
          |      FROM c JOIN f ON c.from_type = f.from_type),
          |u AS (SELECT tr.user_id, count(*) AS n_trans,
          |             list(m.term ORDER BY tr.idx) AS terms
          |      FROM tr JOIN m ON tr.from_type = m.from_type
          |                    AND tr.to_type = m.to_type
          |      GROUP BY tr.user_id)
          |SELECT user_id, n_trans,
          |       floor(((-list_reduce(terms, (a, b) -> a + b)) / n_trans)
          |             * 1000000 + 0.5) / 1000000 AS nll
          |FROM u
          |ORDER BY user_id""".stripMargin),
    // cohort retention: first-event-day cohorts × week offsets, all
    // partial-agg; offset-0 counts ARE the cohort sizes
    QuerySpec("events_retention", (s, d) => Sequence.retention(s, d),
      _ =>
        """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
          |ch AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
          |act AS (SELECT DISTINCT ch.cohort_day,
          |               CAST(floor(date_diff('day', ch.cohort_day, e.day) / 7)
          |                    AS INTEGER) AS week_offset,
          |               e.user_id
          |        FROM e JOIN ch ON ch.user_id = e.user_id),
          |c AS (SELECT cohort_day, week_offset, count(*) AS n_active
          |      FROM act GROUP BY cohort_day, week_offset),
          |sz AS (SELECT cohort_day, n_active AS cohort_size
          |       FROM c WHERE week_offset = 0)
          |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
          |       c.week_offset, c.n_active, sz.cohort_size,
          |       floor((CAST(c.n_active AS DOUBLE) / sz.cohort_size) * 1000000 + 0.5)
          |         / 1000000 AS retention
          |FROM c JOIN sz ON sz.cohort_day = c.cohort_day
          |ORDER BY cohort_day, week_offset""".stripMargin),
    // Kaplan-Meier signup→purchase survival with right-censoring at
    // last activity; life table bounded by the calendar, product folded
    // in ascending-day order (oracle folds the identical sequence)
    QuerySpec("events_survival", (s, d) =>
      Sequence.survivalCurve(s, d).orderBy("duration_days"),
      // KM survival: at-risk via exclusive cumulative sums (exact integer
      // math); the survival product as a per-row prefix fold over
      // duration-sorted factors — list_reduce's first-element init and
      // left-to-right multiply reproduce the Spark driver fold exactly
      _ =>
        """WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
          |t0 AS (SELECT user_id, min(ts) AS t0 FROM e
          |       WHERE event_type = 'signup' GROUP BY user_id),
          |cv AS (SELECT e.user_id, min(e.ts) AS tp
          |       FROM e JOIN t0 ON t0.user_id = e.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > t0.t0
          |       GROUP BY e.user_id),
          |ld AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day
          |       FROM e GROUP BY user_id),
          |b AS (SELECT t0.user_id,
          |        CASE WHEN cv.tp IS NOT NULL
          |             THEN date_diff('day', CAST(t0.t0 AS DATE), CAST(cv.tp AS DATE))
          |             ELSE date_diff('day', CAST(t0.t0 AS DATE), ld.last_day)
          |        END AS duration,
          |        CASE WHEN cv.tp IS NOT NULL THEN 1 ELSE 0 END AS event
          |      FROM t0 JOIN ld ON ld.user_id = t0.user_id
          |      LEFT JOIN cv ON cv.user_id = t0.user_id),
          |km AS (SELECT duration, CAST(sum(event) AS BIGINT) AS d,
          |              CAST(sum(1 - event) AS BIGINT) AS c
          |       FROM b GROUP BY duration),
          |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM km),
          |w AS (SELECT duration, d, c,
          |        (SELECT n FROM tot) - COALESCE(CAST(sum(d + c) OVER (
          |           ORDER BY duration
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          |          AS at_risk
          |      FROM km),
          |w2 AS (SELECT duration, d, c, at_risk,
          |         list_sort(list({'t': duration,
          |                         'f': 1 - CAST(d AS DOUBLE) / at_risk})
          |           OVER (ORDER BY duration
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pfx
          |       FROM w)
          |SELECT CAST(duration AS INTEGER) AS duration_days, at_risk,
          |       d AS events, c AS censored,
          |       floor(list_reduce([x.f for x in pfx], (a, b) -> a * b)
          |             * 1000000 + 0.5) / 1000000 AS survival
          |FROM w2 ORDER BY duration_days""".stripMargin),
    // multi-touch attribution: first/last/linear credit in exact integer
    // micro-cents; one user-keyed purchases-touches join, per-purchase
    // windows, anti-joined 'none' channel completes each ledger
    QuerySpec("events_attribution", (s, d) => Sequence.attribution(s, d),
      // multi-touch attribution: identical micro-cent integer credit math
      // (full credit cents*1e6; linear floor(cents*1e6/n) — one IEEE
      // division of exact integers), so the sums hash-match exactly
      _ =>
        """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts,
          |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          |           FROM events WHERE event_type = 'purchase'),
          |t AS (SELECT user_id, ts AS tts, event_id AS tid,
          |             event_type AS channel
          |      FROM events WHERE event_type IN ('view', 'click')),
          |j AS (SELECT p.pid, p.cents, t.channel, t.tts, t.tid
          |      FROM p JOIN t ON t.user_id = p.user_id
          |       AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 7 DAY),
          |w AS (SELECT pid, cents, channel,
          |             count(*) OVER (PARTITION BY pid) AS n,
          |             row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rna,
          |             row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rnd
          |      FROM j),
          |un AS (SELECT pid, cents FROM p
          |       WHERE pid NOT IN (SELECT pid FROM j)),
          |cr AS (SELECT 'first_touch' AS model, channel, cents * 1000000 AS micro
          |       FROM w WHERE rna = 1
          |       UNION ALL
          |       SELECT 'last_touch', channel, cents * 1000000 FROM w WHERE rnd = 1
          |       UNION ALL
          |       SELECT 'linear', channel,
          |              CAST(floor(cents * 1000000.0 / n) AS BIGINT) FROM w
          |       UNION ALL
          |       SELECT m.model, 'none', cents * 1000000
          |       FROM un CROSS JOIN (VALUES ('first_touch'), ('last_touch'),
          |                                  ('linear')) m(model))
          |SELECT model, channel, count(*) AS n_credits,
          |       CAST(sum(micro) AS BIGINT) AS attributed_micro,
          |       floor(CAST(sum(micro) AS DOUBLE) / 100000000 * 10000 + 0.5)
          |         / 10000 AS attributed_revenue
          |FROM cr GROUP BY model, channel
          |ORDER BY model, channel""".stripMargin),
    // batch sessionization (gaps-and-islands): the oracle-checked batch
    // truth for the streaming sessionize gap rule; exact integer micros
    QuerySpec("events_sessions", (s, d) => Sequence.sessions(s, d),
      // batch sessionization: the same lag-flag + running-sum islands in
      // exact integer microseconds (epoch_us ≡ unix_micros); // is floor
      // division, matching the Spark double-div + truncate on positives
      _ =>
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
          |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          |           FROM events),
          |f AS (SELECT user_id, event_id, us, cents,
          |             CASE WHEN lag(us) OVER w IS NULL
          |                    OR us - lag(us) OVER w > 1800000000
          |                  THEN 1 ELSE 0 END AS new_s
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          |g AS (SELECT user_id, us, cents,
          |             CAST(sum(new_s) OVER (PARTITION BY user_id
          |                                   ORDER BY us, event_id
          |                                   ROWS BETWEEN UNBOUNDED PRECEDING
          |                                   AND CURRENT ROW) AS BIGINT) AS session_idx
          |      FROM f),
          |s AS (SELECT user_id, session_idx, min(us) AS start_us,
          |             max(us) AS end_us, count(*) AS n_events,
          |             CAST(sum(cents) AS BIGINT) AS value_cents
          |      FROM g GROUP BY user_id, session_idx)
          |SELECT user_id, session_idx, start_us, end_us,
          |       (end_us - start_us) // 1000000 AS duration_seconds,
          |       n_events, value_cents
          |FROM s ORDER BY user_id, session_idx""".stripMargin),
    // RFM lifecycle segmentation: exact distributed quintiles (ntile via
    // GlobalOrder, custkey tie-break) over recency/frequency/cents,
    // rolled up to <=125 segments
    QuerySpec("events_rfm_segments", (s, d) =>
      Sequence.rfmSegments(Tables.orders(s, d)),
      // rfm: three independent exact ntiles with the same (metric,
      // custkey) total orders — DuckDB's single-reducer ntile equals
      // GlobalOrder's distributed form exactly on integral orders
      _ =>
        """WITH per AS (SELECT o_custkey AS custkey,
          |                    max(CAST(o_orderdate AS DATE)) AS last_day,
          |                    count(*) AS frequency,
          |                    CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
          |             FROM orders GROUP BY 1),
          |q AS (SELECT custkey, cents,
          |             ntile(5) OVER (ORDER BY last_day, custkey) AS r_q,
          |             ntile(5) OVER (ORDER BY frequency, custkey) AS f_q,
          |             ntile(5) OVER (ORDER BY cents, custkey) AS m_q
          |      FROM per)
          |SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
          |       CAST(m_q AS INTEGER) AS m_q,
          |       count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS total_cents
          |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // top behavioral paths: sessions' islands rendered as capped
    // event-type sequences, top-20 by (sessions desc, path asc)
    QuerySpec("events_top_paths", (s, d) => Sequence.topPaths(s, d),
      // top paths: identical islands, per-session (us, event_id)-ordered
      // type list capped at 8, same (count desc, path asc) cut
      _ =>
        """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          |           FROM events),
          |f AS (SELECT user_id, event_id, event_type, us,
          |             CASE WHEN lag(us) OVER w IS NULL
          |                    OR us - lag(us) OVER w > 1800000000
          |                  THEN 1 ELSE 0 END AS new_s
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
          |g AS (SELECT user_id, event_id, event_type, us,
          |             sum(new_s) OVER (PARTITION BY user_id
          |                              ORDER BY us, event_id
          |                              ROWS BETWEEN UNBOUNDED PRECEDING
          |                              AND CURRENT ROW) AS session_idx
          |      FROM f),
          |p AS (SELECT user_id, session_idx,
          |             array_to_string(list_transform(
          |               (list({'us': us, 'event_id': event_id,
          |                      'event_type': event_type}
          |                ORDER BY us, event_id))[1:8],
          |               x -> x.event_type), '>') AS path
          |      FROM g GROUP BY user_id, session_idx)
          |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
          |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // rolling distinct via MERGEABLE HLL sketches: one scan → per-day
    // sketches, every 7-day window a union of 7 sketches (distinct
    // counts don't add; registers merge) — exact side is the gate only
    QuerySpec("agg_rolling_distinct_hll", (s, d) =>
      Relational.rollingDistinctUsersHll(s, d),
      // rolling HLL: exact windowed distinct replayed; the sketch estimate
      // is engine-specific, so it rides the pinned tolerance boolean
      // (the approx_distinct_users convention)
      _ =>
        """WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
          |d AS (SELECT DISTINCT day FROM e),
          |c AS (SELECT unnest([day + CAST(i AS INTEGER) for i in range(0, 7)]) AS wday,
          |             user_id
          |      FROM e)
          |SELECT strftime(d.day, '%Y-%m-%d') AS day,
          |       count(DISTINCT c.user_id) AS exact_users_7d,
          |       TRUE AS hll_within_tol
          |FROM c JOIN d ON c.wday = d.day
          |GROUP BY d.day
          |ORDER BY day""".stripMargin),
    // Count-Min sketch vs exact: one bounded-state custom-aggregate pass
    // (depth×width longs) beside the exact per-term shuffle; md5 buckets
    // make the SKETCH itself oracle-replayable
    QuerySpec("text_cms_freq", (s, d) =>
      TextAnalysis.cmsTermFrequencies(Tables.documents(s, d))
        .orderBy(col("exact").desc, col("term")),
      // CMS replay: the counter matrix rebuilt as three md5-bucket GROUP
      // BYs (the same 52-bit hex-prefix fold as the JVM aggregate), point
      // estimates as the same 3-way least
      d => {
        val bucket = (d: Int, ref: String) =>
          s"CAST(list_reduce([CAST(strpos('0123456789abcdef', " +
            s"substr(md5('cms$d:' || $ref), h, 1)) - 1 AS BIGINT) " +
            s"for h in range(1, 14)], (a, c) -> a * 16 + c) AS BIGINT) % 256"
        s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |w AS (SELECT unnest(toks) AS term FROM t),
           |ww AS (SELECT term FROM w WHERE term <> ''),
           |ex AS (SELECT term, count(*) AS exact FROM ww GROUP BY term),
           |top AS (SELECT term, exact FROM ex ORDER BY exact DESC, term LIMIT 20),
           |${(0 until 3).map(d =>
               s"b$d AS (SELECT ${bucket(d, "term")} AS b, count(*) AS c FROM ww GROUP BY 1)")
               .mkString(",\n")}
           |SELECT top.term, top.exact, least(c0.c, c1.c, c2.c) AS cms_est,
           |       least(c0.c, c1.c, c2.c) - top.exact AS overcount
           |FROM top
           |JOIN b0 c0 ON c0.b = ${bucket(0, "top.term")}
           |JOIN b1 c1 ON c1.b = ${bucket(1, "top.term")}
           |JOIN b2 c2 ON c2.b = ${bucket(2, "top.term")}
           |ORDER BY top.exact DESC, top.term""".stripMargin
      }),
    // ── time series: resample / gap-fill / rolling / decay ──────────────
    // calendar spine + LOCF/NOCB/linear interpolation in one window pair
    // (the carried observation is a (day, value) struct, so interpolation
    // knows neighbor DISTANCE without a self-join)
    QuerySpec("ts_interpolate", (s, d) => TimeSeries.dailyInterpolated(s, d),
      // time series: same spine, same struct-carrying IGNORE NULLS windows,
      // and the interpolation expression written with the identical IEEE
      // operation order as the Spark side
      _ =>
        s"""WITH o AS (SELECT o_orderpriority AS priority,
           |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
           |           FROM orders
           |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           |             AND o_orderdate < TIMESTAMP '1997-03-01'),
           |s AS (SELECT priority, day, count(*) AS n_orders,
           |             max(o_totalprice) AS v_raw
           |      FROM o GROUP BY priority, day),
           |k AS (SELECT DISTINCT priority FROM o),
           |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
           |                                    DATE '1997-02-28',
           |                                    INTERVAL 1 DAY))::DATE AS day),
           |sp AS (SELECT k.priority, d.day FROM k CROSS JOIN d),
           |b AS (SELECT sp.priority, sp.day, s.n_orders, s.v_raw
           |      FROM sp LEFT JOIN s ON s.priority = sp.priority AND s.day = sp.day),
           |w AS (SELECT priority, day, n_orders, v_raw,
           |        last_value(CASE WHEN v_raw IS NOT NULL
           |                        THEN {'d': day, 'v': v_raw} END IGNORE NULLS)
           |          OVER (PARTITION BY priority ORDER BY day
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
           |        first_value(CASE WHEN v_raw IS NOT NULL
           |                         THEN {'d': day, 'v': v_raw} END IGNORE NULLS)
           |          OVER (PARTITION BY priority ORDER BY day
           |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
           |      FROM b)
           |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
           |       COALESCE(n_orders, 0) AS n_orders,
           |       ${OracleRound.duck("v_raw", 6)} AS v_raw,
           |       ${OracleRound.duck("prev.v", 6)} AS v_locf,
           |       ${OracleRound.duck("nxt.v", 6)} AS v_nocb,
           |       CASE WHEN v_raw IS NOT NULL THEN ${OracleRound.duck("v_raw", 6)}
           |            WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
           |              ${OracleRound.duck(
                 "prev.v + (nxt.v - prev.v) * date_diff('day', prev.d, day)" +
                   " / date_diff('day', prev.d, nxt.d)", 6)}
           |       END AS v_interp
           |FROM w ORDER BY priority, day""".stripMargin),
    // rolling 7 calendar days via a RANGE frame over sparse series —
    // revenue stays integer cents through the window sum (exact math)
    QuerySpec("ts_rolling_range", (s, d) => TimeSeries.rollingRange(s, d),
      _ =>
        """WITH o AS (SELECT o_orderpriority AS priority,
          |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
          |           FROM orders
          |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          |             AND o_orderdate < TIMESTAMP '1997-03-01'),
          |s AS (SELECT priority, day, count(*) AS n_orders,
          |             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
          |      FROM o GROUP BY priority, day),
          |t AS (SELECT priority, day,
          |             date_diff('day', DATE '1997-01-01', day) AS d_off,
          |             n_orders, rev_cents
          |      FROM s)
          |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
          |       rev_cents / 100.0 AS daily_rev,
          |       CAST(sum(rev_cents) OVER w AS BIGINT) / 100.0 AS roll7_rev,
          |       CAST(sum(n_orders) OVER w AS BIGINT) AS roll7_orders,
          |       count(*) OVER w AS roll7_days
          |FROM t
          |WINDOW w AS (PARTITION BY priority ORDER BY d_off
          |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
          |ORDER BY priority, day""".stripMargin),
    // irregular-gap EWMA (1-day half-life): sequential per-key prefix
    // fold with exact 2^-gap weights — bit-deterministic cross-engine
    QuerySpec("ts_ewma", (s, d) => TimeSeries.ewma(s, d),
      // EWMA replay: list_reduce uses the first struct as the fold init,
      // exactly like the Spark aggregate over slice(prefix, 2, n-1) with
      // element 1 as zero; 2^-gap weights are exact integer shifts
      _ => {
        val foldV = "list_reduce(pfx, (acc, s) -> {'d': s.d, " +
          "'v': (1.0 / CAST(1::BIGINT << (s.d - acc.d) AS DOUBLE)) * acc.v" +
          " + (1 - 1.0 / CAST(1::BIGINT << (s.d - acc.d) AS DOUBLE)) * s.v}).v"
        s"""WITH o AS (SELECT o_orderpriority AS priority,
           |                  CAST(o_orderdate AS DATE) AS day, o_totalprice
           |           FROM orders
           |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           |             AND o_orderdate < TIMESTAMP '1997-03-01'),
           |s AS (SELECT priority, day, max(o_totalprice) AS v_raw
           |      FROM o GROUP BY priority, day),
           |t AS (SELECT priority, day,
           |             date_diff('day', DATE '1997-01-01', day) AS d_off, v_raw
           |      FROM s),
           |p AS (SELECT priority, day, v_raw,
           |        list_sort(list({'d': d_off, 'v': v_raw})
           |          OVER (PARTITION BY priority ORDER BY d_off
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pfx
           |      FROM t)
           |SELECT priority, strftime(day, '%Y-%m-%d') AS day,
           |       ${OracleRound.duck("v_raw", 6)} AS v_raw,
           |       ${OracleRound.duck(foldV, 6)} AS ewma
           |FROM p ORDER BY priority, day""".stripMargin
      }),
    // additive decomposition n = trend + seasonal + resid: centered
    // 7-day mean + day-of-week deviation, all integer-sum/single-
    // division math on the zero-filled calendar spine
    QuerySpec("ts_seasonal_decompose", (s, d) => TimeSeries.seasonalDecompose(s, d),
      // seasonal decomposition: the same integer-sum/single-division
      // component math over the zero-filled spine; the residual subtracts
      // the already-rounded components, mirroring the engine exactly
      _ =>
        s"""WITH $dailyOrderCtes
           |f AS (SELECT k.priority, d.day, coalesce(s.n, 0) AS n
           |      FROM k CROSS JOIN d
           |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
           |w AS (SELECT priority, day, n,
           |        ${OracleRound.duck(
                 "CAST(sum(n) OVER wt AS DOUBLE) / count(*) OVER wt", 6)} AS trend,
           |        ${OracleRound.duck(
                 "CAST(sum(n) OVER wd AS DOUBLE) / count(*) OVER wd " +
                   "- CAST(sum(n) OVER wa AS DOUBLE) / count(*) OVER wa", 6)} AS seasonal
           |      FROM f
           |      WINDOW wt AS (PARTITION BY priority ORDER BY day
           |                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
           |             wd AS (PARTITION BY priority, dayofweek(day)),
           |             wa AS (PARTITION BY priority))
           |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
           |       trend, seasonal,
           |       ${OracleRound.duck("n - trend - seasonal", 6)} AS resid
           |FROM w ORDER BY priority, day""".stripMargin),
    // robust rolling-MAD outlier flags: trailing exclusive 14-day frame,
    // 2·median / 4·MAD kept INTEGER so the 3.5-MAD flag is pure integer
    // comparison (bit-identical cross-engine); 8-obs warm-up
    QuerySpec("ts_anomaly", (s, d) => TimeSeries.anomalies(s, d),
      // rolling-MAD anomalies: the trailing frame as a sorted integer list;
      // m2 = 2·median and mad4 = 4·MAD stay integers, the 3.5-MAD flag is
      // pure integer comparison — mirrors the engine bit-for-bit
      _ =>
        s"""WITH $dailyOrderCtes
          |f AS (SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
          |      FROM k CROSS JOIN d
          |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
          |w AS (SELECT priority, day, n,
          |             list_sort(list(n) OVER (PARTITION BY priority ORDER BY day
          |               ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)) AS hist
          |      FROM f),
          |m AS (SELECT priority, day, n, hist, len(hist) AS cnt,
          |             hist[(len(hist) + 1) // 2] + hist[len(hist) // 2 + 1] AS m2
          |      FROM w),
          |v AS (SELECT priority, day, n, cnt, m2,
          |             list_sort(list_transform(hist, x -> abs(x * 2 - m2))) AS sdev
          |      FROM m),
          |a AS (SELECT priority, day, n, cnt, m2,
          |             sdev[(cnt + 1) // 2] + sdev[cnt // 2 + 1] AS mad4
          |      FROM v)
          |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
          |       CASE WHEN cnt >= 8 THEN m2 / 2.0 END AS med,
          |       CASE WHEN cnt >= 8 THEN mad4 / 4.0 END AS mad,
          |       CASE WHEN cnt >= 8 THEN abs(n * 2 - m2) * 4 > mad4 * 7 END
          |         AS is_anomaly
          |FROM a ORDER BY priority, day""".stripMargin),
    // sample ACF at lags 1..7 over the zero-filled series: every
    // aggregate an integer sum, the ratio ONE shared IEEE expression;
    // lag dim = 7 map-side projections (no nested loop)
    QuerySpec("ts_acf", (s, d) => TimeSeries.acf(s, d),
      // ACF: pair formation joins the series against its 7 lag-shifted
      // copies; every aggregate is an integer sum, the ratio the same
      // single IEEE expression as the engine
      _ =>
        s"""WITH $dailyOrderCtes
           |f AS (SELECT k.priority,
           |             date_diff('day', DATE '1997-01-01', d.day) AS d_off,
           |             coalesce(s.n, 0)::BIGINT AS n
           |      FROM k CROSS JOIN d
           |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
           |lg AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
           |p AS (SELECT a.priority, lg.lag,
           |             count(*) AS n_pairs,
           |             sum(a.n * b.n)::BIGINT AS spp,
           |             sum(a.n)::BIGINT AS s1,
           |             sum(b.n)::BIGINT AS s2
           |      FROM f a
           |      CROSS JOIN lg
           |      JOIN f b ON b.priority = a.priority
           |              AND b.d_off = a.d_off - lg.lag
           |      GROUP BY a.priority, lg.lag),
           |mo AS (SELECT priority, count(*) AS n_tot, sum(n)::BIGINT AS s,
           |              sum(n * n)::BIGINT AS sxx
           |       FROM f GROUP BY priority)
           |SELECT p.priority, p.lag, p.n_pairs,
           |       ${OracleRound.duck(
               "(p.spp - (CAST(mo.s AS DOUBLE) / mo.n_tot) * (p.s1 + p.s2)" +
                 " + p.n_pairs * ((CAST(mo.s AS DOUBLE) / mo.n_tot)" +
                 " * (CAST(mo.s AS DOUBLE) / mo.n_tot)))" +
                 " / (mo.sxx - mo.n_tot * ((CAST(mo.s AS DOUBLE) / mo.n_tot)" +
                 " * (CAST(mo.s AS DOUBLE) / mo.n_tot)))", 6)} AS acf
           |FROM p JOIN mo ON mo.priority = p.priority
           |ORDER BY p.priority, p.lag""".stripMargin),
    // two-sided CUSUM changepoint statistics (Page's scheme, allowance
    // μ/2, threshold 4S) scaled to 2n units so every value is a long —
    // the sustained-shift alarm beside ts_anomaly's pointwise MAD flags
    QuerySpec("ts_cusum", (s, d) => TimeSeries.cusum(s, d),
      // CUSUM: the sequential fold is replayed via list_reduce with a
      // prepended 0 (≡ the Spark aggregate's zero init); all longs, so the
      // fold is bit-identical — no tolerance anywhere
      _ =>
        s"""WITH $dailyOrderCtes
          |f AS (SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
          |      FROM k CROSS JOIN d
          |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
          |w AS (SELECT priority, day, n,
          |             count(*) OVER (PARTITION BY priority) AS n_tot,
          |             CAST(sum(n) OVER (PARTITION BY priority) AS BIGINT) AS s_tot,
          |             list(n) OVER (PARTITION BY priority ORDER BY day
          |               ROWS UNBOUNDED PRECEDING) AS pre
          |      FROM f),
          |c AS (SELECT priority, day, n, s_tot,
          |             list_reduce(list_prepend(CAST(0 AS BIGINT),
          |               list_transform(pre, x -> x * 2 * n_tot - 3 * s_tot)),
          |               (a, b) -> greatest(CAST(0 AS BIGINT), a + b)) AS cusum_up,
          |             list_reduce(list_prepend(CAST(0 AS BIGINT),
          |               list_transform(pre, x -> s_tot - x * 2 * n_tot)),
          |               (a, b) -> greatest(CAST(0 AS BIGINT), a + b)) AS cusum_dn
          |      FROM w)
          |SELECT priority, strftime(day, '%Y-%m-%d') AS day, n AS n_orders,
          |       cusum_up, cusum_dn,
          |       cusum_up > 4 * s_tot AS up_alarm,
          |       cusum_dn > 4 * s_tot AS dn_alarm
          |FROM c ORDER BY priority, day""".stripMargin),
    // Holt linear-trend smoothing (α=.5, β=.25 dyadic): running
    // (level, trend) state + one-step-ahead forecast per day — the
    // short-horizon capacity forecast beside ts_ewma's level smoother
    QuerySpec("ts_holt", (s, d) => TimeSeries.holt(s, d),
      // Holt's recurrence replayed as a RECURSIVE CTE marching the
      // calendar day by day — row-wise evaluation with the identical IEEE
      // tree (the level update is spelled out twice inside the trend
      // update on both engines). NOT list_reduce: DuckDB 1.0.0 evaluates
      // struct-lambda fields sequentially with the accumulator mutated in
      // place, so a trend expression referencing acc.l reads the
      // already-updated level — the recursive join has no such hazard.
      _ => {
        val lNew = "0.5 * f.n + 0.5 * (hr.l + hr.b)"
        s"""WITH RECURSIVE $dailyOrderCtes
           |f AS MATERIALIZED (
           |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n
           |      FROM k CROSS JOIN d
           |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
           |hr(priority, day, l, b) AS (
           |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)
           |  FROM f WHERE day = DATE '1997-01-01'
           |  UNION ALL
           |  SELECT f.priority, f.day,
           |         $lNew,
           |         0.25 * (($lNew) - hr.l) + 0.75 * hr.b
           |  FROM hr JOIN f ON f.priority = hr.priority
           |             AND f.day = CAST(hr.day + INTERVAL 1 DAY AS DATE))
           |SELECT hr.priority, strftime(hr.day, '%Y-%m-%d') AS day,
           |       f.n AS n_orders,
           |       ${OracleRound.duck("hr.l", 6)} AS level,
           |       ${OracleRound.duck("hr.b", 6)} AS trend,
           |       ${OracleRound.duck("hr.l + hr.b", 6)} AS forecast_next
           |FROM hr JOIN f ON f.priority = hr.priority AND f.day = hr.day
           |ORDER BY hr.priority, hr.day""".stripMargin
      }),
    // Holt-Winters additive weekly seasonality (period 7, γ=.25): the
    // (level, trend, seasonal[7]) recurrence + one-step forecast —
    // completes the forecast family (ewma -> holt -> holt_winters)
    QuerySpec("ts_holt_winters", (s, d) => TimeSeries.holtWinters(s, d),
      // Holt-Winters replayed as the ts_holt recursive CTE carrying the
      // 7-slot seasonal state as a LIST(DOUBLE) (list comprehension per
      // step — row-wise recursion, no struct-mutation hazard); lNew is
      // spelled out in full inside the trend AND seasonal updates on both
      // engines so the IEEE trees stay bit-identical before 6-dp rounding
      _ => {
        val lNew = "0.5 * (f.n - hr.sv[f.dow + 1]) + 0.5 * (hr.l + hr.b)"
        s"""WITH RECURSIVE $dailyOrderCtes
           |f AS MATERIALIZED (
           |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n,
           |             CAST((d.day - DATE '1997-01-01') % 7 AS INTEGER) AS dow
           |      FROM k CROSS JOIN d
           |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
           |hr(priority, day, l, b, sv) AS (
           |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE),
           |         [CAST(0.0 AS DOUBLE) for i in range(0, 7)]
           |  FROM f WHERE day = DATE '1997-01-01'
           |  UNION ALL
           |  SELECT f.priority, f.day,
           |         $lNew,
           |         0.25 * (($lNew) - hr.l) + 0.75 * hr.b,
           |         [CASE WHEN i = f.dow
           |               THEN 0.25 * (f.n - ($lNew)) + 0.75 * hr.sv[f.dow + 1]
           |               ELSE hr.sv[CAST(i + 1 AS INTEGER)] END
           |          for i in range(0, 7)]
           |  FROM hr JOIN f ON f.priority = hr.priority
           |             AND f.day = CAST(hr.day + INTERVAL 1 DAY AS DATE))
           |SELECT hr.priority, strftime(hr.day, '%Y-%m-%d') AS day,
           |       f.n AS n_orders,
           |       ${OracleRound.duck("hr.l", 6)} AS level,
           |       ${OracleRound.duck("hr.b", 6)} AS trend,
           |       ${OracleRound.duck("hr.sv[f.dow + 1]", 6)} AS seasonal,
           |       ${OracleRound.duck("hr.l + hr.b + hr.sv[((f.dow + 1) % 7) + 1]", 6)} AS forecast_next
           |FROM hr JOIN f ON f.priority = hr.priority AND f.day = hr.day
           |ORDER BY hr.priority, hr.day""".stripMargin
      }),
    // rolling-origin one-step backtest: MAE/RMSE of holt vs holt-winters
    // forecasts against next-day actuals (warm-up skipped) — the eval
    // that picks the smoother, the ts sibling of the embedding evals
    QuerySpec("ts_forecast_eval", (s, d) =>
      TimeSeries.forecastEval(s, d).orderBy("model", "priority"),
      // both forecast chains (the ts_holt and ts_holt_winters recursive
      // CTEs) in one WITH RECURSIVE, their 6dp-rounded one-step forecasts
      // joined to next-day actuals, errors folded day-ordered via
      // list_reduce(list_prepend(0.0, ...)) ≡ Spark's zero-init aggregate
      _ => {
        val lNewH = "0.5 * f.n + 0.5 * (h1.l + h1.b)"
        val lNewW = "0.5 * (f.n - h2.sv[f.dow + 1]) + 0.5 * (h2.l + h2.b)"
        s"""WITH RECURSIVE $dailyOrderCtes
           |f AS MATERIALIZED (
           |      SELECT k.priority, d.day, coalesce(s.n, 0)::BIGINT AS n,
           |             CAST((d.day - DATE '1997-01-01') % 7 AS INTEGER) AS dow
           |      FROM k CROSS JOIN d
           |      LEFT JOIN s ON s.priority = k.priority AND s.day = d.day),
           |h1(priority, day, l, b) AS (
           |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)
           |  FROM f WHERE day = DATE '1997-01-01'
           |  UNION ALL
           |  SELECT f.priority, f.day,
           |         $lNewH,
           |         0.25 * (($lNewH) - h1.l) + 0.75 * h1.b
           |  FROM h1 JOIN f ON f.priority = h1.priority
           |             AND f.day = CAST(h1.day + INTERVAL 1 DAY AS DATE)),
           |h2(priority, day, l, b, sv) AS (
           |  SELECT priority, day, CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE),
           |         [CAST(0.0 AS DOUBLE) for i in range(0, 7)]
           |  FROM f WHERE day = DATE '1997-01-01'
           |  UNION ALL
           |  SELECT f.priority, f.day,
           |         $lNewW,
           |         0.25 * (($lNewW) - h2.l) + 0.75 * h2.b,
           |         [CASE WHEN i = f.dow
           |               THEN 0.25 * (f.n - ($lNewW)) + 0.75 * h2.sv[f.dow + 1]
           |               ELSE h2.sv[CAST(i + 1 AS INTEGER)] END
           |          for i in range(0, 7)]
           |  FROM h2 JOIN f ON f.priority = h2.priority
           |             AND f.day = CAST(h2.day + INTERVAL 1 DAY AS DATE)),
           |fc AS (
           |  SELECT 'holt' AS model, priority, day,
           |         ${OracleRound.duck("l + b", 6)} AS fc
           |  FROM h1
           |  UNION ALL
           |  SELECT 'holt_winters', h2.priority, h2.day,
           |         ${OracleRound.duck("h2.l + h2.b + h2.sv[((f.dow + 1) % 7) + 1]", 6)}
           |  FROM h2 JOIN f ON f.priority = h2.priority AND f.day = h2.day),
           |e AS (
           |  SELECT model, fc.priority, fc.day,
           |         fc.fc - CAST(fn.n AS DOUBLE) AS err,
           |         row_number() OVER (PARTITION BY model, fc.priority
           |                            ORDER BY fc.day) AS rn
           |  FROM fc JOIN f fn ON fn.priority = fc.priority
           |                   AND fn.day = CAST(fc.day + INTERVAL 1 DAY AS DATE)),
           |g AS (
           |  SELECT model, priority,
           |         CAST(count(*) AS BIGINT) AS n_eval,
           |         list_reduce(list_prepend(0.0, list(abs(err) ORDER BY day)),
           |                     (x, y) -> x + y) AS abs_sum,
           |         list_reduce(list_prepend(0.0, list(err * err ORDER BY day)),
           |                     (x, y) -> x + y) AS sq_sum
           |  FROM e WHERE rn > 7 GROUP BY model, priority)
           |SELECT model, priority, n_eval,
           |       ${OracleRound.duck("abs_sum / n_eval", 6)} AS mae,
           |       ${OracleRound.duck("sqrt(sq_sum / n_eval)", 6)} AS rmse
           |FROM g ORDER BY model, priority""".stripMargin
      }),
  )

  /** Daily order counts per priority over Jan-Feb 1997 (`o`, `s`), with the
    * priority set `k` and the calendar spine `d` the zero-fill joins against.
    */
  private def dailyOrderCtes: String =
    """o AS (SELECT o_orderpriority AS priority,
      |                  CAST(o_orderdate AS DATE) AS day
      |           FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |             AND o_orderdate < TIMESTAMP '1997-03-01'),
      |s AS (SELECT priority, day, count(*) AS n FROM o GROUP BY priority, day),
      |k AS (SELECT DISTINCT priority FROM o),
      |d AS (SELECT unnest(generate_series(DATE '1997-01-01',
      |                                    DATE '1997-02-28',
      |                                    INTERVAL 1 DAY))::DATE AS day),"""
}
