package graft.rel

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Temporal window machinery beyond ROWS frames: time-RANGE trailing
  * aggregates, cumulative distinct users via mergeable HLL sketches,
  * and stream-static dimension enrichment.
  *
  * q_trailing_24h is the feature-engineering staple ("activity in the
  * trailing 24h at each event") — a RANGE frame over event time, which
  * unlike a ROWS frame is defined by VALUE distance, so sparse/bursty
  * series aggregate correctly. q_uniques_cumulative is the
  * growth-dashboard primitive done the 100 TB way: per-day sketches are
  * built in ONE map-side-combinable pass over the raw data, and the
  * cumulative union runs over the |days|-row sketch relation — the
  * triangular join touches kilobyte sketches, never raw rows; the
  * exact twin (first-seen-day cumulative sum) both gates the sketch
  * within its 2.5σ bound and IS the oracle-hashed answer.
  */
object TemporalQueries {

  private val M = DecimalType(18, 3)

  /** Trailing RANGE width: 24 hours in microseconds. */
  val TrailUs: Long = 24L * 3600L * 1000000L

  /** HLL lgK (4096 registers): rsd = 1.04/√2^12 ≈ 1.63%. */
  val HllLgK = 12
  /** Gate = 2.5σ, derived from lgK (same coupling rule as
    * q_approx_counts — the bound moves with the sketch precision).
    */
  val HllBound: Double = 2.5 * 1.04 / math.sqrt((1 << HllLgK).toDouble)

  val defs: Map[String, QueryDef] = Map(

    // ---- q_trailing_24h: per event, the user's event count and exact
    //      DECIMAL value sum over the PRECEDING 24h (inclusive) — a
    //      RANGE frame ordered by event time. ROWS vs RANGE matters:
    //      bursty users have many rows per instant and sparse users
    //      have none — only the value-distance frame is correct.
    //      100 TB: a per-user window caps parallelism at the KEY axis —
    //      on the zipf 100× tables the hot user (20% of all events) made
    //      the whole query one 73s single-threaded sort task. The r9
    //      shape partitions by (user, 24h-chunk) instead, with each
    //      event replicated once into the NEXT chunk as frame context
    //      (chunk width = window width, the q_events_range_join bin
    //      rule): every event's trailing frame lives entirely in its own
    //      chunk's partition — chunk-c real rows plus chunk-(c−1)
    //      replicas, each original event exactly once (a replica can
    //      never tie a real row: its ts is strictly below the chunk
    //      boundary, so RANGE peer semantics are preserved) — and the
    //      hot user's timeline parallelizes across days. Context rows
    //      feed frames but are filtered from output. 2× rows through
    //      the exchange buys per-(key × time) parallelism ----
    "q_trailing_24h" -> QueryDef(
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_24h,
        |  CAST(round(SUM(CAST(value AS DECIMAL(18,3))) OVER w, 2) AS DOUBLE)
        |    AS sum_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (spark, d) =>
      val binExpr = s"((us - pmod(us, ${TrailUs}L)) DIV ${TrailUs}L)"
      val w = Window.partitionBy("user_id", "chunk").orderBy(col("us"))
        .rangeBetween(-TrailUs, Window.currentRow)
      Tables.events(spark, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("own", expr(binExpr))
        .withColumn("chunk", explode(array(col("own"), col("own") + 1)))
        .select(col("event_id"), col("user_id"), col("own"), col("chunk"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum(col("value").cast(M)).over(w), 2).cast("double").as("sum_24h"))
        // keep only each event's own-chunk row (replicas are context);
        // also row-neutral-but-not-foldable: without a consumer of a
        // window column a bare count() action would prune the Window
        // node and the bench would measure only the scan
        .filter(col("chunk") === col("own") && col("n_24h") >= 1)
        .select("event_id", "user_id", "n_24h", "sum_24h")
        .orderBy("event_id")
    },

    // ---- q_uniques_cumulative: distinct users seen up to each day —
    //      exact via first-seen-day cumulative sum (each user aggregates
    //      to ONE (user → first day) row; the day-level cumsum window
    //      runs over |days| rows), approx via per-day HLL sketch build
    //      (map-side combinable agg over raw events) + triangular union
    //      over the |days|-row sketch relation. The sketch estimate is
    //      deterministic for fixed data (register max is
    //      order-independent), so the 2.5σ bound boolean is stable and
    //      the oracle asserts it TRUE — same gate rule as
    //      q_approx_counts. At 100 TB the exact path's per-user argmin
    //      is the expensive-but-linear anchor; the sketch path is the
    //      O(days²·kB) dashboard dial ----
    "q_uniques_cumulative" -> QueryDef(
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
        |  GROUP BY user_id
        |), days AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        |)
        |SELECT d.day,
        |  CAST((SELECT COUNT(*) FROM f WHERE f.first_day <= d.day) AS BIGINT)
        |    AS n_exact,
        |  TRUE AS within_bound
        |FROM days d ORDER BY d.day""".stripMargin) { (spark, d) =>
      val ev = Tables.events(spark, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val firstDay = ev.groupBy("user_id").agg(min("day").as("first_day"))
      val newPerDay = firstDay.groupBy(col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val cum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val exact = ev.select("day").distinct()
        .join(newPerDay, Seq("day"), "left")
        .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("n_exact", sum("new_users").over(cum))
        .select("day", "n_exact")
      val daySketch = ev.groupBy("day")
        .agg(expr(s"hll_sketch_agg(user_id, $HllLgK)").as("sk"))
      val cumSketch = daySketch.as("d").join(daySketch.as("s"),
          col("s.day") <= col("d.day"))
        .groupBy(col("d.day").as("day"))
        .agg(expr(s"hll_sketch_estimate(hll_union_agg(s.sk, true))").as("n_est"))
      exact.join(cumSketch, "day")
        .select(col("day"), col("n_exact"),
          (abs(col("n_est").cast("double") - col("n_exact")) / col("n_exact")
            < HllBound).as("within_bound"))
        .orderBy("day")
    },

    // ---- q_retention: cohort retention triangle — users cohorted by
    //      first-seen day; retention(cohort, k) = |cohort active on
    //      cohort+k| / |cohort|. The whole triangle derives from TWO
    //      user-keyed aggregates: (user → first_day) and the distinct
    //      (user, day) activity relation, joined on user_id (ONE
    //      shuffle, both sides pre-keyed) then rolled up to
    //      (cohort, offset) — never a days×days self-join of the raw
    //      events. Offsets capped at 7 to keep the report
    //      dashboard-sized; the ratio divides two exact BIGINTs in one
    //      mirrored IEEE op ----
    "q_retention" -> QueryDef(
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events
        |  GROUP BY user_id
        |), act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), sz AS (
        |  SELECT cohort, COUNT(*) AS cohort_n FROM f GROUP BY cohort
        |)
        |SELECT a.cohort, a.k, MAX(sz.cohort_n) AS cohort_n,
        |  CAST(COUNT(*) AS BIGINT) AS n_active,
        |  round(CAST(COUNT(*) AS DOUBLE) / MAX(sz.cohort_n), 6) AS retention
        |FROM (
        |  SELECT f.cohort, date_diff('day', f.cohort, act.day) AS k
        |  FROM f JOIN act ON act.user_id = f.user_id
        |  WHERE date_diff('day', f.cohort, act.day) <= 7) a
        |JOIN sz ON sz.cohort = a.cohort
        |GROUP BY a.cohort, a.k
        |ORDER BY a.cohort, a.k""".stripMargin) { (spark, d) =>
      val ev = Tables.events(spark, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val f = ev.groupBy("user_id").agg(min("day").as("cohort"))
      val act = ev.distinct()
      val sz = f.groupBy("cohort").agg(count(lit(1)).as("cohort_n"))
      f.join(act, "user_id")
        .select(col("cohort"), datediff(col("day"), col("cohort")).as("k"))
        .filter(col("k") <= 7)
        .groupBy("cohort", "k")
        .agg(count(lit(1)).cast("long").as("n_active"))
        .join(broadcast(sz), "cohort")
        .select(col("cohort"), col("k"), col("cohort_n"), col("n_active"),
          round(col("n_active").cast("double") / col("cohort_n"), 6)
            .as("retention"))
        .orderBy("cohort", "k")
    },

    // ---- q_concurrency: peak concurrent sessions per day — interval
    //      algebra via sweep line. The naive form is a GLOBAL running
    //      sum over all +1/−1 boundary events (one totally-ordered
    //      window = the classic scale-killer). The scalable
    //      decomposition: (a) day-LOCAL running sums (partitioned
    //      window, ordered by (t, delta DESC) so inclusive-interval ties
    //      resolve +1-first), plus (b) a per-day CARRY = sessions
    //      spanning midnight into the day, built by a bounded
    //      per-session day-spine explode (span ≤ session length, never
    //      a calendar cross join). peak(day) = max(running) + carry;
    //      days covered only by a spanning session fall back to the
    //      carry alone. All counts exact BIGINTs ----
    "q_concurrency" -> QueryDef(
      s"""WITH ${SessionOps.duckSessionsCte},
        |deltas AS (
        |  SELECT CAST(s AS DATE) AS day, s AS t, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT CAST(e AS DATE) AS day, e AS t, -1 AS delta FROM sess
        |), run AS (
        |  SELECT day, delta,
        |    SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        |  FROM deltas
        |), mrs AS (
        |  SELECT day, CAST(MAX(rs) AS BIGINT) AS peak_local,
        |    CAST(COUNT(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_started
        |  FROM run GROUP BY day
        |), carryd AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS carry FROM (
        |    SELECT CAST(unnest(generate_series(CAST(s AS DATE) + 1,
        |      CAST(e AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
        |    FROM sess WHERE CAST(e AS DATE) > CAST(s AS DATE))
        |  GROUP BY day
        |), days AS (
        |  SELECT day FROM mrs UNION SELECT day FROM carryd
        |)
        |SELECT d.day,
        |  COALESCE(m.n_started, 0) AS n_started,
        |  COALESCE(c.carry, 0) AS carry_in,
        |  GREATEST(COALESCE(m.peak_local, 0), 0) + COALESCE(c.carry, 0)
        |    AS peak_concurrency
        |FROM days d
        |LEFT JOIN mrs m ON m.day = d.day
        |LEFT JOIN carryd c ON c.day = d.day
        |ORDER BY d.day""".stripMargin) { (spark, d) =>
      val sess = SessionOps.sessions(spark, d)
      val deltas = sess.select(to_date(col("s")).as("day"), col("s").as("t"),
          lit(1).as("delta"))
        .unionAll(sess.select(to_date(col("e")).as("day"), col("e").as("t"),
          lit(-1).as("delta")))
      val sweep = Window.partitionBy("day").orderBy(col("t"), col("delta").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mrs = deltas.withColumn("rs", sum("delta").over(sweep))
        .groupBy("day")
        .agg(max("rs").cast("long").as("peak_local"),
          count(when(col("delta") === 1, 1)).as("n_started"))
      val carryd = sess.filter(to_date(col("e")) > to_date(col("s")))
        .select(explode(sequence(date_add(to_date(col("s")), 1),
          to_date(col("e")))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("carry"))
      mrs.join(carryd, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_started"), lit(0L)).as("n_started"),
          coalesce(col("carry"), lit(0L)).as("carry_in"),
          // FLOOR the day-local max at 0: concurrency holds at the carry
          // baseline from midnight until the first delta, so a day whose
          // deltas start with carried-session ENDS (max running sum < 0)
          // must not drag the peak below carry
          (greatest(coalesce(col("peak_local"), lit(0L)), lit(0L))
            + coalesce(col("carry"), lit(0L))).as("peak_concurrency"))
        .orderBy("day")
    },

    // ---- q_twa: time-weighted average value per user — the
    //      irregular-sampling aggregate (sensor/pricing staple) where a
    //      plain AVG over-weights bursts. Each reading holds until the
    //      next (lead), weight = duration in µs; the weighted sum runs
    //      ENTIRELY in integers (value mills × µs — bounded by
    //      1e8·span_us < 2⁶³ per user-day scale), one IEEE division at
    //      the end, mirrored. ONE user_id shuffle shared by the lead
    //      window and the aggregate; last reading carries zero weight
    //      (span-closed convention, documented) ----
    "q_twa" -> QueryDef(
      """WITH w AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mills,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS dur_us
        |  FROM events
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(dur_us) AS BIGINT) AS span_us,
        |  round(CAST(SUM(mills * dur_us) AS DOUBLE)
        |    / CAST(SUM(dur_us) AS DOUBLE) / 1000, 6) AS twa
        |FROM w WHERE dur_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, d) =>
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(spark, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast(M) * 1000).cast("long").as("mills"))
        .withColumn("dur_us",
          unix_micros(lead(col("ts"), 1).over(byUser)) - unix_micros(col("ts")))
        .filter(col("dur_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("dur_us").as("span_us"),
          round((sum(col("mills") * col("dur_us")).cast("double")
            / sum("dur_us").cast("double")) / 1000, 6).as("twa"))
        // row-neutral (dur_us > 0 on every retained row) — keeps count()
        // from pruning the weighted-sum aggregate expressions
        .filter(col("twa").isNotNull)
        .orderBy("user_id")
    },

    // ---- q_stream_session: native session_window aggregation run as a
    //      REAL streaming job (file source → watermarked session agg →
    //      memory sink, AvailableNow) — the 5th streaming shape in the
    //      suite (tumbling agg, ingest dedup, stream-stream join,
    //      static enrich, sessions). Complete mode emits every session
    //      including those the watermark hasn't closed (Append drops
    //      the tail — measured 943/946 at sf0.001), which is what makes
    //      the batch oracle replay exact. Session semantics: merge while
    //      next_ts < prev_ts + gap (STRICT — session_window itself merges
    //      touching windows, so sessionCounts runs it at gap − 1 µs),
    //      end = last_ts + gap — the oracle's island construction
    //      mirrors both. State is bounded
    //      by the watermark at steady state; the oracle-gated Complete
    //      run is the bounded-backfill shape ----
    "q_stream_session" -> QueryDef(
      s"""WITH ${SessionOps.duckSessionsCte}
        |SELECT user_id, s AS sess_start,
        |  e + INTERVAL 30 MINUTES AS sess_end,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM sess
        |ORDER BY user_id, sess_start""".stripMargin) { (spark, d) =>
      val agg = graft.streaming.EventsStream.sessionCounts(
        graft.streaming.EventsStream.readEventsStream(spark, d))
      graft.streaming.EventsStream.runBounded(agg, "q_stream_session_sink")
        .orderBy("user_id", "sess_start")
    },

    // ---- q_stream_enrich: stream-static dimension join — the ingest
    //      enrichment shape (events arrive as a stream, the user
    //      dimension is a batch table). STATELESS: no watermark, no
    //      state store — each micro-batch broadcast-joins the static
    //      side, so an unbounded stream enriches at scan speed; the
    //      static dim is re-resolved per batch. Oracle replays the same
    //      join in batch SQL ----
    "q_stream_enrich" -> QueryDef(
      """WITH dim AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
        |    COUNT(*) AS n_user_events
        |  FROM events GROUP BY user_id
        |)
        |SELECT e.event_id, e.user_id, e.event_type,
        |  dim.first_day, dim.n_user_events
        |FROM events e JOIN dim ON dim.user_id = e.user_id
        |ORDER BY e.event_id""".stripMargin) { (spark, d) =>
      val dim = Tables.events(spark, d)
        .groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("first_day"),
          count(lit(1)).as("n_user_events"))
      val enriched = graft.streaming.EventsStream.readEventsStream(spark, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .join(broadcast(dim), "user_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("first_day"), col("n_user_events"))
      graft.streaming.EventsStream.runBounded(enriched, "q_stream_enrich_sink",
          mode = org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("event_id")
    })
}
