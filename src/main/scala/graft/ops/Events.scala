package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` fact table: ordered
  * funnels and cohort retention — the product-analytics twins of the
  * CDC surface (the reference's changelog is an event stream; these
  * are the questions a consumer asks of it — mapr-db-cdc-sample
  * README.md:24-28's "process the stream" loop).
  *
  * Both operators shuffle once on `user_id` (high-cardinality key):
  * the funnel runs its stage windows inside one partitioning pass,
  * retention is two partial-agg-friendly aggregations joined on the
  * user key. Nothing is ordered globally — at 100 TB the per-user
  * partitions re-size with the cluster, not the data.
  */
object Events {

  /** Ordered conversion funnel signup → click → purchase: a stage
    * counts a user only if some event of the previous stage strictly
    * precedes it in (ts, event_id) order. Running conditional minima
    * over the per-user window mark stage eligibility row-by-row, so
    * the whole funnel is ONE shuffle on user_id — both stage windows
    * share the same partitioning and sort, and Catalyst plans them in
    * a single Window chain without a second exchange.
    */
  def funnel(events: DataFrame): DataFrame = {
    val precededBy = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("saw_signup",
        min(when(col("event_type") === "signup", col("ts"))).over(precededBy))
      .withColumn("saw_click",
        min(when(col("event_type") === "click" && col("saw_signup").isNotNull,
          col("ts"))).over(precededBy))
    // per-user stage flags first: this aggregation reuses the window's
    // user_id partitioning (no second full-data exchange), and the
    // distinct-user counts become a tiny global sum — where a direct
    // multi-countDistinct would plan an Expand plus per-distinct
    // exchanges over the whole event stream
    staged
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("f_signup"),
        max(when(col("event_type") === "click" &&
          col("saw_signup").isNotNull, 1L).otherwise(0L)).as("f_click"),
        max(when(col("event_type") === "purchase" &&
          col("saw_click").isNotNull, 1L).otherwise(0L)).as("f_purchase"))
      .agg(sum("f_signup").as("n_signup"), sum("f_click").as("n_click"),
        sum("f_purchase").as("n_purchase"))
      .selectExpr(
        """stack(3,
          |  1L, 'signup',   n_signup,   cast(1.0 as double),
          |  2L, 'click',    n_click,    round(n_click   / nullif(n_signup, 0), 4),
          |  3L, 'purchase', n_purchase, round(n_purchase / nullif(n_click, 0), 4)
          |) as (stage_idx, stage, n_users, conv_rate)""".stripMargin)
  }

  /** Weekly cohort retention: users are cohorted by the week of their
    * first signup; every event then lands in a (cohort_week,
    * week_offset) cell counting distinct active users. Negative
    * offsets (activity before signup) are kept — retention audits
    * must not silently drop them. Week arithmetic stays integral:
    * both week starts are Monday-truncated dates, so the day delta is
    * an exact multiple of 7.
    */
  def retention(events: DataFrame): DataFrame = {
    val cohorts = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"))
    events.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_week"),
        expr("datediff(cast(date_trunc('week', ts) as date), cohort_week) div 7")
          .cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** COHORT VALUE CURVES — [[retention]]'s money twin: per signup
    * cohort and week offset, the active users, the week's value, the
    * cohort's cumulative value line, and the per-signup LTV — the
    * curve a growth/payback review actually reads (retention says
    * WHO came back; this says what coming back was WORTH).
    *
    * All money runs in INTEGER CENTS from the first touch
    * (`round(value·100)` per event): cent sums are exact integer
    * addition in any shuffle order on any engine, where cumulative
    * double addition drifts by order at corpus scale. Shape: one
    * join of events onto the per-user cohort frame (both shuffle on
    * user_id), one map-side-combined aggregate to the
    * cohorts×offsets summary (calendar², never corpus), cumulative
    * lines from [[graft.ops.ModelFrames.exclusivePrefixSum]] within
    * each cohort — no single-partition window, nothing corpus-scale
    * past the first aggregate.
    */
  def cohortValue(events: DataFrame): DataFrame = {
    val cohorts = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        date_trunc("week", col("first_ts")).cast("date").as("cohort_week"))
    val cn = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
    val cells = events.join(cohorts, "user_id")
      .select(col("cohort_week"),
        expr("datediff(cast(date_trunc('week', ts) as date), cohort_week) div 7")
          .cast("long").as("week_offset"),
        col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum("cents").as("value_cents"))
      .localCheckpoint() // the prefix line and the output join read it
    val cum = ModelFrames.exclusivePrefixSum(cells, "week_offset",
      "value_cents", "cum_off", within = Seq("cohort_week"))
    cells
      .join(broadcast(cum), Seq("cohort_week", "week_offset"))
      .join(broadcast(cn), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("value_cents"),
        (col("cum_off") + col("value_cents")).as("cum_value_cents"),
        col("cohort_n"),
        // cents are non-negative by construction (audited range), so
        // integral division agrees across engines; widen the
        // numerator per the ppm-product discipline
        expr("CAST(CAST(cum_off + value_cents AS DECIMAL(38,0)) " +
          "div cohort_n AS BIGINT)").as("ltv_per_signup_cents"))
  }

  /** Rolling engagement: daily and trailing-7-day distinct active
    * users per observed day (DAU/WAU). Sliding distinct is not
    * decomposable, so each (day, user) pair is fanned out to the ≤7
    * future days whose window covers it (bounded ×7 — never
    * data-dependent) and distinct-counted per day. The shuffle keys
    * are (day, user) pairs — the corpus never moves.
    */
  def rollingActives(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
      .distinct()
    val days = daily.select("day").distinct()
    val dau = daily.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = daily
      .withColumn("off", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .join(days, "day") // only days that actually occur report a window
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: every consecutive (prev → next) event-type pair in
    * (ts, event_id) order, with the conditional transition
    * probability P(next | prev). The sequence model behind
    * next-event prediction and funnel design — and the behavioral
    * twin of `text_bigram_lm`.
    *
    * ONE shuffle on user_id orders each user's history; transitions
    * then collapse to a |types|² matrix, so the second window (the
    * per-prev normalizer) runs over a constant-size frame no matter
    * the corpus. Raw events never shuffle twice.
    */
  def markov(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    t.withColumn("p", round(
      col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")).cast("double"), 4))
  }

  /** Z-score anomaly flags: events whose value deviates ≥ `tau`
    * sample standard deviations from their event-type mean. The
    * per-type model (one low-cardinality aggregate, rounded to a
    * fixed 6dp so the constants are engine-portable) broadcasts back
    * onto the stream — one scan, one tiny shuffle, score-and-filter
    * map-side. The same shape serves streaming scoring: the model
    * frame becomes a periodically refreshed broadcast.
    */
  /** Z-normalized sliding-window pattern match over per-type value
    * series — the subsequence-similarity primitive of time-series
    * search (UCR-style): every length-L window of each series is
    * z-normalized and scored by Euclidean distance against the
    * z-normalized query pattern, so matches are invariant to the
    * series' offset and amplitude. Windows with zero variance (flat)
    * cannot be z-normalized and are excluded, same as UCR.
    *
    * SEGMENTED subsequence search, because the series key
    * (`event_type`) has a handful of values: a whole-series window
    * would put an entire event type's history into ONE task at
    * 100 TB. Instead each series is chunked into fixed-size segments
    * with an L−1 row overlap on a composite (event_type, segment)
    * key, windows are scored within segments, and only windows
    * ending at a segment's home rows are kept — results identical to
    * the whole-series pass (a spec pins segment-size invariance),
    * parallelism proportional to data, per-task state bounded by
    * `segmentSize + L − 1` rows regardless of skew.
    *
    * The global per-series row index that defines segments is built
    * scalably in two levels: per-(series, time-band) counts (a tiny
    * aggregate) prefix-summed into band offsets and broadcast back,
    * plus a within-band `row_number` — no whole-series sort ever
    * lands in one task. Band width only shapes the rank pass's
    * parallelism, never results. The z-norm/distance fold is ONE
    * codegen'd kernel ([[graft.functions.expressions.ZnormDist]]) —
    * the `aggregate`/`zip_with` higher-order functions it replaces
    * never entered whole-stage codegen. Selection is the native
    * TopKPerKey bounded heaps — no global sort, nothing quadratic.
    */
  /** The query pattern z-normalized with the same sequential folds
    * the oracle replays (left-to-right IEEE order — bit-identical);
    * shared by the batch operator and its streaming twin.
    */
  private[graft] def znormPattern(pattern: Seq[Double]): Array[Double] = {
    val L = pattern.length
    val pm = pattern.foldLeft(0.0)(_ + _) / L
    val psd = math.sqrt(
      pattern.foldLeft(0.0)((a, x) => a + (x - pm) * (x - pm)) / L)
    require(psd > 0,
      s"pattern has zero variance ($pattern) — a constant pattern cannot be z-normalized")
    pattern.map(x => (x - pm) / psd).toArray
  }

  def tsMatch(events: DataFrame,
              pattern: Seq[Double] = Seq(0.0, 0.0, 1.0, 2.0, 4.0, 2.0, 1.0, 0.0),
              k: Int = 5, segmentSize: Int = 512,
              bandUs: Long = 3600000000L): DataFrame = {
    val L = pattern.length
    require(segmentSize >= L,
      s"segmentSize ($segmentSize) must cover the pattern length ($L)")
    require(bandUs > 0, s"bandUs ($bandUs) must be positive")
    val zq = array(znormPattern(pattern).map(lit(_)).toSeq: _*)
    // level 1: global per-series row index = band offset + in-band
    // rank. Band boundaries respect (ts, event_id) order because the
    // band is a function of ts alone; the offsets frame is one row
    // per (series, band) — broadcast-sized at any corpus size.
    val ev = events
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .withColumn("band", expr(s"unix_micros(ts) div ${bandUs}L"))
    val offsets = ev.groupBy("event_type", "band")
      .agg(count(lit(1)).as("bn"))
      .withColumn("off",
        coalesce(sum("bn").over(Window.partitionBy("event_type")
          .orderBy("band").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("event_type", "band", "off")
    val indexed = ev
      .join(broadcast(offsets), Seq("event_type", "band"))
      .withColumn("idx",
        col("off") + row_number().over(Window.partitionBy("event_type", "band")
          .orderBy(col("ts"), col("event_id"))).cast("long") - 1L)
      .select("event_type", "event_id", "value", "idx")
    // level 2: home segment idx div S, plus a copy of the trailing
    // L−1 rows into the next segment so its first windows see their
    // full history; windows keep only home-row endings. The copy is
    // an EXPLODE into 1-or-2 segment ids, not a union — a union
    // duplicates the whole upstream (scan + offsets join + rank
    // window twice); the explode replicates just the ≤(L−1)/S row
    // fraction in one pass
    val S = segmentSize.toLong
    val segmented = indexed.withColumn("seg", explode(
      when(col("idx") % S >= S - (L - 1),
        array(expr(s"idx div ${S}L"), expr(s"idx div ${S}L + 1L")))
        .otherwise(array(expr(s"idx div ${S}L")))))
    val w = Window.partitionBy("event_type", "seg")
      .orderBy("idx").rowsBetween(-(L - 1), Window.currentRow)
    val scored = segmented
      .select(col("event_type"), col("event_id"), col("idx"), col("seg"),
        collect_list(col("value")).over(w).as("win"))
      .filter(col("seg") === expr(s"idx div ${S}L")) // home endings only
      .filter(size(col("win")) === L)
      .withColumn("dist",
        round(graft.functions.expressions.znorm_dist(col("win"), zq), 6))
      .filter(!isnan(col("dist"))) // zero-variance windows
    val top = graft.plans.TopK.perKey(
      scored.select("event_type", "event_id", "dist"),
      Seq("event_type"), Seq(col("dist").asc, col("event_id").asc), k)
    val rw = Window.partitionBy("event_type")
      .orderBy(col("dist").asc, col("event_id").asc)
    top.withColumn("rank", row_number().over(rw).cast("long"))
      .select("event_type", "rank", "event_id", "dist")
  }

  /** FUNNEL LATENCY — the time-to-convert percentiles between
    * adjacent funnel stages ([[funnel]] reports WHO converts; this
    * reports HOW LONG conversion takes, the metric an activation
    * team actually tunes): per stage pair, exact discrete p50/p90 of
    * the per-user gap between first qualified stage events, under
    * funnel's own strict precedence (first signup; first click AFTER
    * a signup; first purchase AFTER a qualified click) — so a user
    * counts in exactly the transitions the funnel credits them with.
    *
    * Scale shape: stage times fold in the same single user_id
    * window+aggregate pass as [[funnel]]; the deltas frame is
    * users-sized, and the percentiles come from [[RankSelect.at]]'s
    * two-pass histogram rank selection (billions of users never
    * sort — the q35 discipline, discrete ranks so the answers are
    * exact integer microseconds).
    */
  def funnelLatency(events: DataFrame, bins: Int = 256): DataFrame = {
    val precededBy = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("saw_signup",
        min(when(col("event_type") === "signup", col("ts"))).over(precededBy))
      .withColumn("saw_click",
        min(when(col("event_type") === "click" && col("saw_signup").isNotNull,
          col("ts"))).over(precededBy))
    val perUser = staged.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
      min(when(col("event_type") === "click" && col("saw_signup").isNotNull,
        col("ts"))).as("t_click"),
      min(when(col("event_type") === "purchase" && col("saw_click").isNotNull,
        col("ts"))).as("t_purchase"))
    val deltas = perUser.select(explode(array(
        struct(lit("signup_to_click").as("g"),
          (unix_micros(col("t_click")) - unix_micros(col("t_signup")))
            .as("v")),
        struct(lit("click_to_purchase").as("g"),
          (unix_micros(col("t_purchase")) - unix_micros(col("t_click")))
            .as("v")))).as("s"))
      .select(col("s.g").as("g"), col("s.v").as("v"))
      .filter(col("v").isNotNull)
    def rk(p: Double) =
      floor((col("n") - 1L).cast("double") * p).cast("long")
    val (sel, bounds) = graft.ops.RankSelect.at(deltas, bins,
      graft.ops.RankSelect.floatBin(bins),
      b => b.select(col("g"),
        explode(array(rk(0.5), rk(0.9))).as("r")).distinct())
    sel.join(broadcast(bounds.select("g", "n")), Seq("g"))
      .groupBy(col("g"), col("n"))
      .agg(max(when(col("r") === rk(0.5), col("v"))).as("p50_us"),
        max(when(col("r") === rk(0.9), col("v"))).as("p90_us"))
      .select(col("g").as("stage_pair"), col("n").as("n_users"),
        col("p50_us"), col("p90_us"))
  }

  def anomaly(events: DataFrame, tau: Double = 2.0): DataFrame = {
    val model = events.groupBy("event_type")
      .agg(round(avg("value"), 6).as("mu"),
        round(stddev_samp("value"), 6).as("sigma"))
    events.join(broadcast(model), "event_type")
      .filter(abs((col("value") - col("mu")) / col("sigma")) >= tau)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"),
        round((col("value") - col("mu")) / col("sigma"), 3).as("z"))
  }

  /** Event-type co-occurrence LIFT: for every unordered type pair,
    * the users exhibiting both and lift = P(a,b)/(P(a)·P(b)) — the
    * market-basket view of the event stream (which behaviors travel
    * together; the segmentation/funnel-design input). Per-user
    * distinct types bound the self-join fan-out by |types|² per
    * user — a model constant — so the join is a user-keyed equi-join
    * with bounded expansion, never all-pairs; type marginals and the
    * user count ride broadcasts. Output ≤ |types|² rows.
    */
  def typeCooccurrence(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val marg = ut.groupBy("event_type").agg(count(lit(1)).as("c"))
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("c").as("c_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("c").as("c_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_both"),
        round(col("n_both").cast("double") * col("n_users") /
          (col("c_a").cast("double") * col("c_b")), 4).as("lift"))
  }

  /** Hour-of-week seasonality profile: events, value mean, traffic
    * share, and a peak flag per (day-of-week, hour) slot — the load
    * model capacity planning and anomaly baselining start from (the
    * streaming anomaly operator's z-scores assume stationarity; this
    * is the table that says where that assumption breaks). One
    * map-side-combined aggregation to at most 168 rows; the total
    * rides a single-row broadcast. The peak flag is exact integer
    * arithmetic — `n·336 > total·3` ⟺ slot traffic exceeds 1.5× the
    * uniform-168-slot expectation — so the flag can never diverge
    * across engines on a float boundary.
    */
  def seasonality(events: DataFrame): DataFrame = {
    val slots = events
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n_events"),
        round(avg("value"), 4).as("avg_value"))
    slots
      .crossJoin(broadcast(events.agg(count(lit(1)).as("n_total"))))
      .select(col("dow"), col("hod"), col("n_events"),
        round(col("n_events").cast("double") / col("n_total"), 6).as("share"),
        (col("n_events") * 336L > col("n_total") * 3L).as("is_peak"),
        col("avg_value"))
  }

  /** Last-touch attribution: each purchase is credited to the most
    * recent preceding non-purchase event of the same user (the
    * "channel"), `direct` when the purchase is the user's first
    * event. The running carry is one `last(ignoreNulls)` over the
    * per-user (ts, event_id) window — the same single-shuffle shape
    * as the funnel: partition by the high-cardinality user key, never
    * a global order, and the per-channel rollup afterwards is
    * map-side-combined down to |event types| rows. Ties are
    * impossible because (ts, event_id) is unique per user.
    */
  /** Top event-type trigrams: consecutive per-user 3-step paths
    * (the [[markov]] transition matrix extended one step — enough
    * context to see loops and detours, still |types|³-bounded
    * output). Two `lead`s over the per-user (ts, event_id) window —
    * one shuffle on the user key — then a map-side-combined count
    * and a TakeOrdered top-k heap, never a global sort.
    */
  def typeTrigrams(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  def attribution(events: DataFrame): DataFrame = {
    val before = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(before))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("attributed_value"))
  }

  /** Daily session-concurrency profile by SWEEP LINE — the interval-
    * aggregation class (how many sessions overlap at once: capacity
    * planning, load-test targets) that no groupBy can express: a
    * session is PRESENT over a span, not at a point. Sessions form
    * by the q16 gap rule, clip at UTC day boundaries (bounded
    * per-day fan-out — a span of d days becomes d segments), and
    * each day sweeps its own +1/−1 boundary events with a running
    * sum on the composite (day, sub-day band) key — a calendar day
    * is NOT a scale-safe partition (one day of a 100 TB stream is
    * one task), so the in-band prefix sums are carried across band
    * boundaries by an exclusive prefix of band totals over the
    * band-summary frame (the ts_match offsets discipline; `bandSec`
    * bounds per-task work and provably never changes the result —
    * spec-pinned band-width invariance). Half-open [start, end+1µs)
    * deltas make
    * same-instant touches count as concurrent in both engines
    * without tie-order sensitivity: the running MAX is invariant to
    * ordering among equal (time, delta) rows. Everything is integer
    * micros end to end.
    */
  private val DayUs = 86400000000L

  /** Per-user session spans under the q16 gap rule: one row per
    * session with its [s, e] micro bounds. Shared by the sweep-line
    * and interval-join consumers so the session definition cannot
    * drift between them. */
  private[graft] def sessionSpans(events: DataFrame, gapSec: Long): DataFrame = {
    require(gapSec > 0)
    val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev", lag(col("us"), 1).over(wo))
      .withColumn("ns", when(col("prev").isNull ||
        col("us") - col("prev") > gapSec * 1000000L, 1).otherwise(0))
      .withColumn("sid",
        sum("ns").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("s"), max("us").as("e"))
  }

  def concurrency(events: DataFrame, gapSec: Long = 1800L,
                  bandSec: Long = 3600L): DataFrame = {
    require(bandSec > 0, s"bandSec ($bandSec) must be positive")
    val dayUs = DayUs
    val bandUs = bandSec * 1000000L
    val sess = sessionSpans(events, gapSec)
    val seg = sess
      .select(explode(sequence(expr(s"s div $dayUs"),
        expr(s"e div $dayUs"))).as("day"), col("s"), col("e"))
      .select(col("day"),
        greatest(col("s"), col("day") * dayUs).as("lo"),
        least(col("e"), (col("day") + 1) * dayUs - 1).as("hi"))
      // referenced twice by the +1/−1 union: materialize so the
      // events scan + session window runs once, not per branch
      .localCheckpoint()
    val deltas = seg
      .select(col("day"), col("lo").as("us"), lit(1L).as("delta"))
      .unionAll(seg.select(col("day"), (col("hi") + 1).as("us"),
        lit(-1L).as("delta")))
      // sub-day bands: the running sum below partitions on the
      // COMPOSITE (day, band) key, so one calendar day of boundary
      // deltas never sorts in a single task (a year of telemetry is
      // not 365 tasks — it is days × bands, each bounded by the
      // band's traffic, with `bandSec` the knob that bounds it).
      // Band index is monotone in `us` within a day, so ordering by
      // (band, us, delta) equals the day-wide (us, delta) order and
      // the sweep decomposes exactly: running(row) = the band's
      // in-band prefix + the exclusive sum of earlier bands' deltas.
      // The hi+1 delta of a day-end-clipped segment lands at offset
      // dayUs — one band past the last — which stays monotone.
      .withColumn("band", expr(s"(us - day * $dayUs) div ${bandUs}L"))
    val wb = Window.partitionBy("day", "band")
      .orderBy(col("us"), col("delta").desc)
    val perBand = deltas
      .withColumn("run_in",
        sum("delta").over(wb.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("day", "band")
      .agg(sum("delta").as("bsum"), max("run_in").as("bmax"),
        count(lit(1)).as("n"))
    // carry the sweep across band boundaries: exclusive prefix of
    // band delta-sums, over the band-summary frame (≤ bands-per-day
    // rows per partition — the ts_match offsets discipline, bounded
    // by construction, never corpus-scale)
    val wd = Window.partitionBy("day").orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    perBand
      .withColumn("off", coalesce(sum("bsum").over(wd), lit(0L)))
      .groupBy("day")
      .agg((sum("n") / 2).cast("long").as("n_sessions"),
        max(col("off") + col("bmax")).as("peak_concurrent"))
      .select(to_date(timestamp_micros(col("day") * dayUs)).as("day"),
        col("n_sessions"), col("peak_concurrent"))
  }

  /** Session DURATION distribution — the third consumer of the
    * shared q16 session definition (sweep-line concurrency asks "how
    * many at once", the overlap join "who together", this "how
    * LONG"): fixed-width histogram of session spans in the q33 bin
    * convention, integer micros end to end (integer-exact binning —
    * the +1 denominator keeps indices in [0, bins) with no float
    * edge), with each bin's inclusive lower duration bound and its
    * share of all sessions. The engagement-shape audit (bot bursts
    * pile into bin 0, humans spread) that sizes the `gapSec` knob
    * itself. One session pass + one map-side-combined count to a
    * ≤ `bins`-row frame; the bounds ride a single-row broadcast.
    */
  def sessionLengths(events: DataFrame, gapSec: Long = 1800L,
                     bins: Int = 20): DataFrame = {
    require(bins > 0, s"bins ($bins) must be positive")
    val durs = sessionSpans(events, gapSec)
      .select((col("e") - col("s")).as("dur"))
      // referenced twice (bounds + binning): materialize so the
      // events scan + session window runs once, not per consumer
      .localCheckpoint()
    val b = durs.agg(min("dur").as("lo"), max("dur").as("hi"),
      count(lit(1)).as("n"))
    durs.crossJoin(broadcast(b))
      .select(expr(s"(dur - lo) * $bins div (hi - lo + 1)").as("bin"),
        col("lo"), col("hi"), col("n"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_sessions"), max("lo").as("lo"),
        max("hi").as("hi"), max("n").as("n"))
      .withColumn("dur_lo_us",
        col("lo") + expr(s"bin * (hi - lo + 1) div $bins"))
      .withColumn("share",
        round(col("n_sessions").cast("double") / col("n"), 4))
      .select("bin", "dur_lo_us", "n_sessions", "share")
  }

  /** User CO-ACTIVITY by interval-OVERLAP join — the third member of
    * the temporal-join family (as-of: latest-before; trailing range:
    * fixed lookback; this: two SPANS intersecting). Session pairs of
    * DIFFERENT users whose [s, e] intervals overlap, rolled up per
    * user pair with total shared micros — the "who is online
    * together" / correlated-automation signal. Spark has no interval
    * join, and the naive formulation is a nested-loop cartesian; the
    * q30 banding discipline applies: fixed-width time bands
    * manufacture the equi-key (two overlapping intervals both touch
    * the band holding the overlap's START, so a shared-band
    * equi-join misses nothing at ANY band width), the exact overlap
    * predicate rides inside the join, and one `distinct` removes
    * the multi-band double-counts
    * of band-spanning overlaps. Candidate fan-out is Σ_band n_band²
    * — bounded by per-band session counts, never the corpus — and
    * `bandSec` is the knob that bounds n_band: a calendar-day band
    * holds every session of that day (memory-unbounded hash-join
    * build sides at scale), so the default is an HOUR, and the band
    * width provably never changes the result (spec-pinned
    * invariance; any shared band admits the pair once, `distinct`
    * collapses the rest). No join-strategy hint: the planner (and
    * AQE's skew-join splitting, which a hard `shuffle_hash` hint
    * would disable at runtime) stays free to re-plan a hot band.
    */
  def coactivity(events: DataFrame, gapSec: Long = 1800L,
                 bandSec: Long = 3600L): DataFrame = {
    require(bandSec > 0, s"bandSec ($bandSec) must be positive")
    val bandUs = bandSec * 1000000L
    val bands = sessionSpans(events, gapSec)
      .select(col("user_id"), col("sid"), col("s"), col("e"),
        explode(sequence(expr(s"s div ${bandUs}L"),
          expr(s"e div ${bandUs}L"))).as("band"))
      // both sides of the self-join read this: materialize so the
      // events scan + session window runs once, not per side
      .localCheckpoint()
    val a = bands.select(col("band").as("band_a"), col("user_id").as("user_a"),
      col("sid").as("sid_a"), col("s").as("s_a"), col("e").as("e_a"))
    val b = bands.select(col("band").as("band_b"), col("user_id").as("user_b"),
      col("sid").as("sid_b"), col("s").as("s_b"), col("e").as("e_b"))
    a.join(b,
        col("band_a") === col("band_b") && col("user_a") < col("user_b") &&
          col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select(col("user_a"), col("user_b"), col("sid_a"), col("sid_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b")) + 1).as("overlap_us"))
      .distinct()
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_overlaps"),
        sum("overlap_us").as("shared_us"))
  }

  /** [[coactivity]] on the NATIVE plane-sweep interval join
    * ([[graft.plans.IntervalJoinExec]]): same output, strictly
    * tighter execution — the banded hash join builds each band's
    * whole session set and post-filters candidate pairs, then
    * `distinct`s multi-band duplicates; the sweep pairs each arriving
    * session only with the currently-ACTIVE set (memory = the band's
    * peak concurrency, not its population), produces no discarded
    * candidates, and emits each pair exactly once by construction
    * (only the band owning max(s_a, s_b) emits), so no `distinct`
    * ever runs. `bandSec` bounds per-task sweep state and provably
    * never changes the result.
    */
  def coactivityNative(events: DataFrame, gapSec: Long = 1800L,
                       bandSec: Long = 3600L): DataFrame = {
    require(bandSec > 0, s"bandSec ($bandSec) must be positive")
    val sess = sessionSpans(events, gapSec)
      // both sides of the self-join read this: materialize so the
      // events scan + session window runs once, not per side
      .localCheckpoint()
    val a = sess.select(col("user_id").as("user_a"), col("sid").as("sid_a"),
      col("s").as("s_a"), col("e").as("e_a"))
    val b = sess.select(col("user_id").as("user_b"), col("sid").as("sid_b"),
      col("s").as("s_b"), col("e").as("e_b"))
    graft.plans.IntervalNative.join(a, b, ("s_a", "e_a"), ("s_b", "e_b"),
        bandSec * 1000000L)
      .filter(col("user_a") < col("user_b"))
      .select(col("user_a"), col("user_b"), col("sid_a"), col("sid_b"),
        (least(col("e_a"), col("e_b")) -
          greatest(col("s_a"), col("s_b")) + 1).as("overlap_us"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_overlaps"),
        sum("overlap_us").as("shared_us"))
  }

  /** Telemetry DEBOUNCE audit: collapse each (user, type) burst —
    * consecutive same-type events under `gapSec` apart — to its
    * FIRST event (the q16/sessionSpans gap rule applied per (user,
    * type), keeping the session-opening rows), and report per type
    * how much of the stream was duplicate chatter. Retry storms and
    * double-fire clients inflate counts and poison per-event models;
    * this is the cleaning rate a pipeline inspects before trusting
    * raw event volumes. CONSECUTIVE-GAP (session-opener) semantics:
    * a burst is a maximal chain of events each under `gapSec` from
    * its predecessor, and only the chain's opener survives — so a
    * chain a-b-c at sub-gap spacing keeps only `a` even when the
    * chain's total span exceeds the gap (chained retries collapse
    * entirely; a rule that re-emits once the distance from the
    * opener exceeds the gap would be a different — rate-limit —
    * semantics). One per-(user, type) window pass; output is
    * |types| rows.
    */
  def debounce(events: DataFrame, gapSec: Long = 5L): DataFrame = {
    require(gapSec > 0)
    val wo = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev", lag(col("us"), 1).over(wo))
      .withColumn("keep", col("prev").isNull ||
        col("us") - col("prev") > gapSec * 1000000L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(sum(when(col("keep"), 0L).otherwise(1L)).cast("double") /
          count(lit(1)), 4).as("drop_rate"))
  }

  /** ROBUST per-type anomaly audit — median/MAD instead of mean/σ:
    * [[anomaly]]'s z-score model is itself dragged by the outliers
    * it hunts (one corrupted 1e12 reading inflates σ until nothing
    * else alarms); the median and the median absolute deviation
    * have a 50% breakdown point, so the contamination this audit
    * exists to find cannot hide itself. Both statistics are EXACT
    * ORDER STATISTICS (the value at 0-based rank ⌊(n−1)/2⌋ — raw
    * data values, no interpolation arithmetic), selected by the
    * shared [[RankSelect]] two-pass histogram engine — no per-type
    * sort chain anywhere — which also makes the whole audit
    * bit-reproducible across engines: med is a data value, each
    * deviation is one subtract+abs, the outlier compare
    * `|v − med| > k·mad` is one multiply, so the DuckDB twin
    * matches with zero rounding anywhere except the final rate.
    * Cost shape: two chained rank selections over a 2-column
    * projection (~3 narrow scans each) + one scoring pass; MAD is
    * inherently two-pass (deviations need the median first). The
    * chaining leans on RankSelect materializing its ranks-sized
    * selection: `med` rides inside pass-2's corpus lineage AND the
    * final scoring join, and with lazy selection lineage each
    * reference replicated pass-1's whole multi-scan tree (the r11
    * committed plan re-read the events parquet 50×).
    */
  def anomalyRobust(events: DataFrame, k: Double = 3.0,
                    bins: Int = 256): DataFrame = {
    val vals = events.select(col("event_type").as("g"), col("value").as("v"))
    val binOf = RankSelect.floatBin(bins)
    def midRank(bounds: DataFrame) =
      bounds.select(col("g"), expr("(n - 1) div 2").as("r"))
    val (m1, _) = RankSelect.at(vals, bins, binOf, midRank)
    val med = m1.select(col("g"), col("v").as("med"))
    // ONE definition of the deviation feeds both the MAD selection
    // and the outlier scoring — the metric cannot drift between them
    val scored = vals.join(broadcast(med), Seq("g"))
      .withColumn("dv", abs(col("v") - col("med")))
    val (m2, _) = RankSelect.at(
      scored.select(col("g"), col("dv").as("v")), bins, binOf, midRank)
    val mad = m2.select(col("g"), col("v").as("mad"))
    scored.join(broadcast(mad), Seq("g"))
      .groupBy(col("g").as("event_type"))
      .agg(count(lit(1)).as("n"), max("med").as("med"),
        max("mad").as("mad"),
        sum(when(col("dv") > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_rate",
        round(col("n_outliers").cast("double") / col("n"), 4))
  }

  /** Per-type VALUE-DISTRIBUTION drift: a binned two-sample
    * Kolmogorov-Smirnov statistic between the first and second half
    * of the stream's time range. [[anomaly]] models mean/σ — a
    * distribution can keep both while its shape migrates (bimodal
    * split, tail growth); this is the audit that catches it. Exact
    * and engine-reproducible by construction: the time split and the
    * `bins` fixed-width buckets are integer/IEEE expressions shared
    * with the q33 histogram convention, ECDFs are exact integer
    * cumulative counts over the dense (type, window, bin) grid
    * (≤ |types|·2·bins rows — the windows run over a model-sized
    * frame, never the stream), and the KS max is taken before the
    * single 6dp round. One map-side-combined aggregation of the
    * corpus; everything after is model-sized.
    */
  def valueDrift(events: DataFrame, bins: Int = 20,
                 tau: Double = 0.1): DataFrame = {
    require(bins > 0)
    val ev = events.select(col("event_type").as("etype"), col("value"),
      expr("unix_micros(ts)").as("us"))
    val bounds = ev.agg(min("value").as("lo"), max("value").as("hi"),
      min("us").as("t0"), max("us").as("t1"))
    // both windows PIVOTED into one row per (type, bin): the ref/cur
    // split is a conditional sum, not a key — no self-join of the
    // two sides, one window pass computes both ECDFs
    val isRef = col("us") * 2 <= col("t0") + col("t1")
    // degenerate value range (every value identical): the bin
    // quotient divides by zero — short-circuit all rows to bin 0
    // (both ECDFs step 0→1 at the same edge, ks = 0: a constant
    // column has not drifted), mirroring driftReference's explicit
    // hi > lo contract instead of silently NULLing every bin
    val binOf = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor(((col("value") - col("lo")) * bins) /
        (col("hi") - col("lo"))), lit(bins - 1L)).cast("long"))
    val counts = ev.crossJoin(broadcast(bounds))
      .select(col("etype"), isRef.as("is_ref"), binOf.as("bin"))
      .groupBy("etype", "bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("nc"))
      // the model-sized frame feeds two consumers (the grid's type
      // list and the ECDF join) — materialize once so the corpus
      // scan+agg above runs once, not per consumer subtree
      .localCheckpoint()
    // dense grid so both ECDFs are evaluated at every bin edge (a
    // bin empty on one side still moves the other side's cumulative)
    val grid = counts.select("etype").distinct()
      .crossJoin(events.sparkSession.range(bins)
        .select(col("id").as("bin")))
    val wcum = Window.partitionBy("etype").orderBy("bin")
    val wtot = Window.partitionBy("etype")
    // tot = 0 (type absent from a window) must yield a NULL fraction,
    // not an ANSI divide-by-zero — the one-sided override below turns
    // those NULLs into the ks = 1 maximal-shift verdict
    def ecdf(c: Column, t: Column): Column =
      when(t === 0, lit(null).cast("double"))
        .otherwise(c.cast("double") / t)
    grid.join(counts.hint("shuffle_hash"), Seq("etype", "bin"), "left")
      .select(col("etype"), col("bin"),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
      .withColumn("f_ref", ecdf(sum("nr").over(wcum), sum("nr").over(wtot)))
      .withColumn("f_cur", ecdf(sum("nc").over(wcum), sum("nc").over(wtot)))
      .withColumn("tr", sum("nr").over(wtot))
      .withColumn("tc", sum("nc").over(wtot))
      .groupBy("etype")
      .agg(max("tr").as("n_ref"), max("tc").as("n_cur"),
        round(max(abs(col("f_ref") - col("f_cur"))), 6).as("ks"))
      // a type present in only ONE window (feature removed mid-stream
      // or newly introduced) has an undefined ECDF on the empty side —
      // which is the MAXIMAL shift, not a missing value: ks = 1 and
      // the alarm fires, instead of a NULL row a drifted-filter would
      // silently drop
      .withColumn("ks",
        when(col("n_ref") === 0 || col("n_cur") === 0, lit(1.0d))
          .otherwise(col("ks")))
      .withColumn("drifted", col("ks") > tau)
  }

  /** Dense per-type daily count series: one map-side-combined scan
    * aggregation down to |types| × |days| rows (a model-sized frame —
    * at 100 TB this is the ONLY pass that touches the corpus; every
    * time-series consumer below works on the aggregate), then a
    * per-type calendar grid left-joined so quiet days appear as
    * explicit zeros — autocorrelation and change-point statistics
    * over a series with silently missing days are biased toward
    * whatever the gaps hide.
    */
  private def dailySeries(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type").as("etype"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val span = daily.groupBy("etype")
      .agg(min("day").as("d0"), max("day").as("d1"))
    span
      .select(col("etype"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(broadcast(daily), Seq("etype", "day"), "left")
      .select(col("etype"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** GAP SIZING for the q16 session rule — the
    * [[graft.cdc.Changelog.watermarkPlan]] discipline pointed at the
    * OTHER streaming knob: the session gap / state TTL. Exact
    * p50/p90/p99 of the per-user inter-event gap, faceted by the
    * type of the gap's OPENING event (cadence after a click differs
    * from cadence after an error — the facet is a real partition
    * key, and the session knob reads the conservative row), selected
    * by the shared [[RankSelect]] engine with integer basis-point
    * ranks (`(n−1)·bp div 10000` — zero fp, replayable), plus the
    * recommended `gapSec` = p99 div 1s + 1: the gap that keeps 99%
    * of observed consecutive pairs inside one session. One per-user
    * window pass to the gaps, one RankSelect, |types| rows out.
    */
  def gapPlan(events: DataFrame, bins: Int = 256): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("g"), (col("nxt") - col("us")).as("v"))
    val (sel, bounds) = RankSelect.at(gaps, bins,
      RankSelect.intBin(bins), bounds =>
        bounds
          .select(col("g"), col("n"),
            explode(array(lit(5000L), lit(9000L), lit(9900L))).as("q_bp"))
          .select(col("g"), col("q_bp"),
            expr("(n - 1) * q_bp div 10000").as("r")))
    sel.groupBy("g").agg(
      max(when(col("q_bp") === 5000L, col("v"))).as("p50_gap_us"),
      max(when(col("q_bp") === 9000L, col("v"))).as("p90_gap_us"),
      max(when(col("q_bp") === 9900L, col("v"))).as("p99_gap_us"))
      .join(broadcast(bounds.select(col("g"), col("hi").as("max_gap_us"),
        col("n").as("n_gaps"))), Seq("g"))
      .withColumn("gap_rec_sec", expr("p99_gap_us div 1000000 + 1"))
      .select("g", "n_gaps", "p50_gap_us", "p90_gap_us", "p99_gap_us",
        "max_gap_us", "gap_rec_sec")
      .withColumnRenamed("g", "event_type")
  }

  /** Lag-k autocorrelation of the per-type daily volume series, k =
    * 1..`maxLag` — the periodicity detector that sizes seasonal
    * models and alarms on cadence breaks (a weekly product rhythm
    * shows as an acf spike at lag 7; a flat acf says yesterday's
    * volume predicts nothing). Runs entirely on the [[dailySeries]]
    * model frame: the lag dimension is a broadcast tiny frame, the
    * shifted series is a broadcast self-equi-join on (type, day −
    * lag) — never a window whose frame depends on k — and each
    * (type, lag) cell is one Pearson `corr` over the overlapping
    * pairs. Corpus cost stays the single dailySeries scan regardless
    * of maxLag.
    */
  def autocorrelation(events: DataFrame, maxLag: Int = 3): DataFrame = {
    require(maxLag > 0, s"maxLag ($maxLag) must be positive")
    // two consumers of the model frame (the a/b sides of the lag
    // join) — materialize once so the corpus scan+agg runs once
    val s = dailySeries(events).localCheckpoint()
    val lags = events.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    // Pearson from EXACT INTEGER power sums, not fp moment
    // aggregates: the counts are integers, so Σx, Σy, Σxy, Σx², Σy²
    // are exact in DECIMAL(38,0) (HUGEINT in the oracle — int64
    // squares overflow at day-counts ≈ 3e9, the graph_hits widening
    // lesson) in ANY accumulation order, and the single
    // decimal→double conversion before the final divide is
    // IEEE-nearest on both engines — so the acf is bit-identical
    // across engines and shuffle orders, closing the
    // rounded-quotient-of-fp-moments divergence channel. Zero
    // variance answers an explicit NULL (ANSI-safe; DuckDB corr's
    // verdict too).
    val d19 = "decimal(19,0)"
    s.as("a").crossJoin(broadcast(lags))
      .join(broadcast(s.as("b")),
        col("a.etype") === col("b.etype") &&
          col("b.day") === date_sub(col("a.day"), col("lag").cast("int")))
      .groupBy(col("a.etype").as("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.n").cast(d19) * col("b.n").cast(d19)).as("sxy"),
        sum(col("a.n").cast(d19)).as("sx"),
        sum(col("b.n").cast(d19)).as("sy"),
        sum(col("a.n").cast(d19) * col("a.n").cast(d19)).as("sxx"),
        sum(col("b.n").cast(d19) * col("b.n").cast(d19)).as("syy"))
      .withColumn("num", col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vxi", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vyi", col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("vxi") === 0 || col("vyi") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") /
            sqrt(col("vxi").cast("double") * col("vyi").cast("double")), 4))
          .as("acf"))
  }

  /** Exponentially-weighted daily-volume smoothing in EXACT DYADIC
    * arithmetic: α = 1/2 makes every EWMA weight a power of two, so
    * the weighted sum over the trailing `window` days is an exact
    * integer (`n·2^(w−1−off)` — shifts, never fp powers) and the
    * smoothed level is ONE deterministic double division at the end
    * — the same zero-fp-accumulation discipline as the power-sum
    * Pearson family, applied to smoothing. The baseline window ends
    * YESTERDAY (a spike must not launder itself into its own
    * baseline — an in-window today caps the ratio below 2 by
    * construction); early days use the truncated window with its
    * exact truncated denominator, and the series' first day, with
    * no history at all, answers NULL rather than a fabricated
    * level. `burst_ratio` = today / baseline flags volume spikes
    * against the series' own recent history — the complementary
    * alarm to [[changepoint]]'s sustained level shift. Runs
    * entirely on the [[dailySeries]] model frame: offsets are a
    * broadcast tiny dimension, the trailing window a broadcast
    * self-equi-join, one map-side-combined aggregation out.
    */
  def ema(events: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 1 && window <= 62, s"window ($window) out of range")
    // two consumers (the a/b sides): materialize the model frame once
    val s = dailySeries(events).localCheckpoint()
    val offs = events.sparkSession.range(1, window + 1)
      .select(col("id").cast("int").as("off"))
    val sh = expr(s"shiftleft(1L, $window - off)")
    s.as("a").crossJoin(broadcast(offs))
      .join(broadcast(s.as("b")),
        col("a.etype") === col("b.etype") &&
          col("b.day") === date_sub(col("a.day"), col("off")), "left")
      .groupBy(col("a.etype").as("event_type"), col("a.day").as("day"),
        col("a.n").as("n"))
      .agg(sum(when(col("b.n").isNotNull, col("b.n") * sh)).as("scaled"),
        sum(when(col("b.n").isNotNull, sh)).as("denom"))
      .withColumn("ema_raw", col("scaled").cast("double") / col("denom"))
      .select(col("event_type"), col("day"), col("n"),
        round(col("ema_raw"), 4).as("ema"),
        when(col("ema_raw").isNull || col("ema_raw") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("n") / col("ema_raw"), 4)).as("burst_ratio"))
      .withColumn("is_burst", coalesce(col("burst_ratio") > 2.0, lit(false)))
  }

  /** Single change-point detection on the per-type daily volume
    * series: for every split point t the scaled two-sample mean-shift
    * statistic |mean(1..t) − mean(t+1..N)| · √(t·(N−t)/N) — the
    * CUSUM-equivalent scan statistic, computed for ALL splits at once
    * from one cumulative sum (prefix sums turn the O(N²) naive scan
    * into one window pass; no recursion, so the whole detector is
    * declarative and cross-engine replayable). Emits the argmax
    * split per type (ties broken by earliest day): the day the
    * level shifted, both segment means, and the shift statistic. The
    * corpus cost is the [[dailySeries]] scan; the window runs over
    * the model frame keyed per type. Inputs to the argmax are exact
    * integer prefix sums divided once per side — bit-identical
    * across engines, so the argmax itself is replayable, not just
    * the rounded output.
    */
  def changepoint(events: DataFrame): DataFrame = {
    val s = dailySeries(events)
    val wcum = Window.partitionBy("etype").orderBy("day")
    val wtot = Window.partitionBy("etype")
    val scored = s
      .withColumn("t", row_number().over(wcum).cast("long"))
      .withColumn("s_t", sum("n").over(wcum))
      .withColumn("n_days", count(lit(1)).over(wtot).cast("long"))
      .withColumn("s_tot", sum("n").over(wtot))
      .filter(col("t") < col("n_days"))
      .withColumn("mean_l", col("s_t").cast("double") / col("t"))
      .withColumn("mean_r",
        (col("s_tot") - col("s_t")).cast("double") / (col("n_days") - col("t")))
      .withColumn("stat",
        abs(col("mean_l") - col("mean_r")) *
          sqrt((col("t") * (col("n_days") - col("t"))).cast("double") /
            col("n_days")))
    val pick = Window.partitionBy("etype")
      .orderBy(col("stat").desc, col("day"))
    scored
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("etype").as("event_type"), col("day").as("split_day"),
        col("t").as("n_left"), col("n_days"),
        round(col("mean_l"), 4).as("mean_left"),
        round(col("mean_r"), 4).as("mean_right"),
        round(col("stat"), 4).as("shift_stat"))
  }

  /** Per-type linear trend of daily volume: OLS of count against the
    * 0-based day index via closed-form moment aggregates (slope =
    * cov/var, intercept from the means, r² from Pearson corr) plus
    * the one-step-ahead forecast — the capacity-planning readout of
    * the [[dailySeries]] frame. One corpus scan, then |types| rows
    * of constant-size aggregates; no iteration, no model state. A
    * degenerate series (one day, or constant counts) yields NULL
    * slope/r² explicitly rather than an engine-specific NaN.
    */
  def trend(events: DataFrame): DataFrame = {
    // exact integer power sums (x is the integer day index, y the
    // integer count) — the [[autocorrelation]] bit-reproducibility
    // discipline: every aggregate is order-independent, the one
    // decimal→double conversion is IEEE-nearest on both engines,
    // and the OLS quotients derive deterministically from there
    val d19 = "decimal(19,0)"
    val s = dailySeries(events)
      .withColumn("x", datediff(col("day"),
        min(col("day")).over(Window.partitionBy("etype"))).cast(d19))
    s.groupBy(col("etype").as("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x") * col("n").cast(d19)).as("sxy"),
        sum(col("x")).as("sx"), sum(col("n").cast(d19)).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("n").cast(d19) * col("n").cast(d19)).as("syy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vxi", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vyi", col("n_days") * col("syy") - col("sy") * col("sy"))
      .withColumn("slope_raw",
        when(col("vxi") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("vxi").cast("double")))
      .withColumn("icpt_raw",
        (col("sy").cast("double") - col("slope_raw") * col("sx").cast("double"))
          / col("n_days"))
      .select(col("event_type"), col("n_days"),
        round(col("slope_raw"), 4).as("slope"),
        round(col("icpt_raw"), 4).as("intercept"),
        when(col("vxi") === 0 || col("vyi") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") * col("num").cast("double")
            / (col("vxi").cast("double") * col("vyi").cast("double")), 4))
          .as("r2"),
        round(col("icpt_raw") + col("slope_raw") * col("n_days"), 4)
          .as("forecast_next"))
  }

  /** ROLLING-ORIGIN BACKTEST of the [[trend]] forecaster — the
    * validation readout a capacity model needs before anyone trusts
    * `forecast_next`: for every cutoff day t (all history through t
    * as training), refit the OLS line and score its one-step-ahead
    * forecast of day t+1 against the actual, alongside the
    * PERSISTENCE baseline (tomorrow = today — the bar any forecaster
    * must clear). Reports per type the fold count, model MAE,
    * naive MAE, and whether the model wins on the rounded numbers.
    *
    * Every cutoff's OLS moments are PREFIX power sums of the one
    * pass [[trend]] already takes — one cumulative window over the
    * |types|×|days| dailySeries model frame (the changepoint
    * prefix-scan discipline; never a per-cutoff refit job), exact
    * integers in DECIMAL/HUGEINT until each fold's one double
    * conversion, so every fold's forecast is bit-identical across
    * engines. Folds need ≥ 2 training days and an actual to score:
    * a type with < 3 days has zero scoreable folds and is absent.
    */
  def backtest(events: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val wt = Window.partitionBy("etype").orderBy("x")
    val cum = wt.rowsBetween(Window.unboundedPreceding, 0)
    val s = dailySeries(events)
      .withColumn("x", datediff(col("day"),
        min(col("day")).over(Window.partitionBy("etype"))).cast(d19))
    val pre = s
      .withColumn("m", count(lit(1)).over(cum))
      .withColumn("sx", sum(col("x")).over(cum))
      .withColumn("sy", sum(col("n").cast(d19)).over(cum))
      .withColumn("sxy", sum(col("x") * col("n").cast(d19)).over(cum))
      .withColumn("sxx", sum(col("x") * col("x")).over(cum))
      .withColumn("next_y", lead(col("n"), 1).over(wt))
      .filter(col("next_y").isNotNull && col("m") >= 2)
    val folds = pre
      .withColumn("num", col("m") * col("sxy") - col("sx") * col("sy"))
      .withColumn("vxi", col("m") * col("sxx") - col("sx") * col("sx"))
      // vxi > 0 whenever m >= 2 (training x are distinct integers)
      .withColumn("slope",
        col("num").cast("double") / col("vxi").cast("double"))
      .withColumn("icpt", (col("sy").cast("double") -
        col("slope") * col("sx").cast("double")) / col("m").cast("double"))
      .withColumn("fcst",
        col("icpt") + col("slope") * (col("x").cast("double") + 1.0))
      .withColumn("err", abs(col("fcst") - col("next_y").cast("double")))
      .withColumn("err_naive",
        abs(col("next_y") - col("n")).cast("double"))
    folds.groupBy(col("etype").as("event_type"))
      .agg(count(lit(1)).as("n_folds"),
        round(avg("err"), 4).as("mae_model"),
        round(avg("err_naive"), 4).as("mae_naive"))
      // the verdict compares the two ROUNDED numbers — deterministic
      // on both engines where the raw doubles might differ in ulps
      .withColumn("beats_naive", col("mae_model") < col("mae_naive"))
  }

  /** Daily NEW vs RETURNING actives plus the exact CUMULATIVE
    * distinct-user count — the audience-growth readout — via the
    * FIRST-SEEN identity: the cumulative distinct count through day
    * d equals the number of users whose first-seen day is ≤ d, so
    * ONE per-user min aggregate replaces any cumulative-distinct
    * construct (the naive shapes — `count(DISTINCT) OVER` an
    * expanding frame, or one distinct-job per day — re-touch the
    * whole history per day and are unrunnable at 100 TB; this costs
    * two map-side-combined corpus aggregations total, both keyed by
    * high-cardinality traffic keys). Days with no traffic appear as
    * explicit zero rows (the [[dailySeries]] grid convention) and
    * the cumulative count carries flat across them. The prefix sum
    * itself runs as a broadcast inequality self-join on the
    * days-sized summary frame — O(days²) pairs on a model frame
    * stays trivial for any real calendar span, and unlike a global
    * window it neither single-tasks the frame nor trips the
    * single-partition-window lint.
    */
  def cumulativeUniques(events: DataFrame): DataFrame = {
    val dayUser = events.select(to_date(col("ts")).as("day"), col("user_id"))
    // (day, user) distinct then per-day count — daily active users;
    // materialized so the calendar span reads this days-sized frame
    // instead of re-aggregating the corpus a third time
    val actives = dayUser.groupBy("day", "user_id").agg(count(lit(1)).as("_c"))
      .groupBy("day").agg(count(lit(1)).as("actives"))
      .localCheckpoint()
    // first-seen day per user: the ONE corpus aggregate the
    // cumulative identity needs
    val firstSeen = dayUser.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val span = actives.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(broadcast(actives), Seq("day"), "left")
      .join(broadcast(firstSeen), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("actives"), lit(0L)).as("actives"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .localCheckpoint() // two consumers (both prefix-join sides)
    // cumulative distinct users through day d = exclusive prefix of
    // new_users + the day's own (the shared model-frame construct)
    grid.join(broadcast(
        ModelFrames.exclusivePrefixSum(grid, "day", "new_users")),
        Seq("day"))
      .select(col("day"), col("actives"), col("new_users"),
        (col("actives") - col("new_users")).as("returning"),
        (col("off") + col("new_users")).as("cum_uniques"))
  }

  /** BURST detection — per type, the peak minute's event count
    * against the type's own active-minute baseline: `burst_ratio =
    * peak / (n_events / n_active_minutes)` in exact integer ppm, the
    * rate-spike audit that catches replayed batches, retry storms,
    * and bot floods that [[anomaly]]'s VALUE statistics never see
    * (a burst of perfectly normal values is invisible there).
    * Baselining on ACTIVE minutes, not the calendar span, keeps a
    * sparse type honest: an hourly heartbeat is flat (every active
    * minute looks like the peak), not a 60× "burst" against a
    * mostly-empty wall clock.
    *
    * One (type, minute) map-side-combined aggregate of the corpus;
    * the per-type rollup runs on that model frame (≤ types×minutes
    * rows) with the integer-argmax struct picking the EARLIEST peak
    * minute on ties. The ratio widens through DECIMAL(38,0) (peak ×
    * 10⁶ × minutes exceeds int64 on a long-lived corpus) and lands
    * as one integer division.
    */
  def burst(events: DataFrame, thresholdPpm: Long = 3000000L): DataFrame = {
    val mins = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy("event_type", "minute").agg(count(lit(1)).as("c"))
    mins.groupBy("event_type")
      .agg(sum("c").as("n_events"),
        count(lit(1)).as("n_active_minutes"),
        max(struct(col("c"), (-col("minute")).as("nm"))).as("mx"))
      .select(col("event_type"), col("n_events"), col("n_active_minutes"),
        col("mx.c").as("peak_count"), (-col("mx.nm")).as("peak_minute"),
        expr("CAST(CAST(mx.c AS DECIMAL(38,0)) * 1000000 * " +
          "n_active_minutes div n_events AS BIGINT)").as("burst_ratio_ppm"))
      .withColumn("is_burst", col("burst_ratio_ppm") > thresholdPpm)
  }

  /** PER-USER PEAK SLIDING-WINDOW RATE — the rate-limit/abuse audit
    * [[burst]] cannot see (burst is per-TYPE on a fixed minute
    * grid; a user spreading a spike across two adjacent minutes
    * halves its apparent rate there — the sliding window has no
    * grid to straddle): for every event, the count of the same
    * user's events in the trailing `(ts − W, ts]` window (the event
    * itself included), then each user's PEAK with the earliest
    * (ts, event_id) on ties — exactly what a token-bucket limiter
    * at rate `peak_count / W` would have flagged.
    *
    * Scale shape: the trailing count rides the native keyed range
    * join ([[graft.plans.RangeNative.join]] — per-(user, band)
    * sliding deque, memory bounded by the densest single window,
    * never an unbanded self-join); fan-out is the in-window event
    * count, a data-rate constant. The per-user peak is the
    * TopKPerKey bounded heap, so nothing user-sized sorts. Output:
    * one row per user.
    */
  def rateWindows(events: DataFrame, windowSec: Long = 86400L): DataFrame = {
    require(windowSec > 0, s"windowSec ($windowSec) must be positive")
    val left = events.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"))
    val right = events.select(col("user_id").as("r_user"),
      unix_micros(col("ts")).as("r_us"))
    val counts = graft.plans.RangeNative.join(left, right,
        Seq(("user_id", "r_user")), ("us", "r_us"), windowSec * 1000000L)
      .groupBy("user_id", "event_id", "us")
      .agg(count(lit(1)).as("n_in_window"))
    graft.plans.TopK.perKey(counts, Seq("user_id"),
        Seq(col("n_in_window").desc, col("us").asc, col("event_id").asc), 1)
      .select(col("user_id"), col("n_in_window").as("peak_count"),
        col("us").as("peak_at_us"), col("event_id").as("peak_event_id"))
  }

  /** CHURN / SURVIVAL CURVE — the discrete lifetime distribution of
    * signed-up users: for every observed lifetime day `t` (signup →
    * last event), who is still at risk, who churns exactly there,
    * the hazard d_t/n_t, and the survival share — [[retention]]
    * buckets RETURN VISITS per cohort week; this reads LIFETIMES,
    * which is what a churn model and an LTV horizon actually
    * consume. (With the synthetic horizon every user's last event is
    * observed, so the product-limit estimator reduces to this exact
    * lifetime ecdf — the censoring-free regime.)
    *
    * Two corpus aggregates (per-user lifetime, then the ≤calendar
    * lifetime histogram); the at-risk line is a strictly-above
    * suffix sum from [[graft.ops.ModelFrames.exclusivePrefixSum]] on
    * the negated day key; ratios widen per the ppm rule. Rows exist
    * for death days — hazard is zero everywhere between.
    */
  def churnCurve(events: DataFrame): DataFrame = {
    val lifetimes = events.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts")))
        .as("fs"), max(col("ts")).as("lt"))
      .filter(col("fs").isNotNull)
      .select(expr("datediff(cast(lt as date), cast(fs as date))")
        .cast("long").as("lifetime_days"))
    val hist = lifetimes.groupBy("lifetime_days")
      .agg(count(lit(1)).as("churned"))
      .withColumn("negt", -col("lifetime_days"))
      .localCheckpoint() // suffix line, total, and output read it
    val above = ModelFrames.exclusivePrefixSum(hist, "negt", "churned",
      "above")
    val n0 = hist.agg(sum("churned").as("n0"))
    hist.join(broadcast(above), Seq("negt"))
      .crossJoin(broadcast(n0))
      .select(col("lifetime_days"),
        (col("above") + col("churned")).as("n_at_risk"),
        col("churned"),
        expr("CAST(CAST(churned AS DECIMAL(38,0)) * 1000000 " +
          "div (above + churned) AS BIGINT)").as("hazard_ppm"),
        expr("CAST(CAST(above AS DECIMAL(38,0)) * 1000000 " +
          "div n0 AS BIGINT)").as("surviving_ppm"))
  }

  /** METRONOME (robotic-traffic) DETECTION — the k users whose
    * inter-event gaps are most suspiciously REGULAR: human activity
    * is bursty (squared coefficient of variation cv² ≈ 1 for
    * Poisson-ish arrival, higher for sessions), schedulers, retry
    * loops and scripted scrapers tick (cv² → 0). The complement of
    * [[rateWindows]]' volume gate: a slow-but-perfectly-even bot
    * never trips a rate limit and lights up here.
    *
    * cv² is exact integer algebra off two moments: per user one
    * window pass gives the gaps, one aggregate gives (n, Σg, Σg²)
    * with the square widened at the term (µs gaps square to ~10²⁶ —
    * far past int64), and cv²·10⁶ = (n·Σg² − (Σg)²)·10⁶ div (Σg)² —
    * the population-moment identity, floored identically on both
    * engines. Selection is TakeOrdered on (cv², user): a k-heap,
    * never a sort of the user dimension.
    */
  def metronome(events: DataFrame, k: Int = 20,
                minGaps: Long = 5L): DataFrame = {
    require(k > 0 && minGaps >= 2, s"k ($k), minGaps ($minGaps) invalid")
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("s"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap")).as("ss"))
      .filter(col("n_gaps") >= minGaps && col("s") > 0)
      .select(col("user_id"), col("n_gaps"),
        expr("s div n_gaps").as("mean_gap_us"),
        expr("CAST((n_gaps * ss - CAST(s AS DECIMAL(38,0)) * s) * 1000000 " +
          "div (CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)").as("cv2_ppm"))
      .orderBy(col("cv2_ppm").asc, col("user_id").asc)
      .limit(k)
  }

  /** TOP USER JOURNEYS — the `k` most frequent session paths, a path
    * being the ordered sequence of a session's first `maxSteps` event
    * types (sessionized by the same inactivity rule as
    * [[graft.ops.Relational.q16Sessionize]]). [[markov]] and the
    * trigram extractor see TRANSITIONS; this is the whole-journey
    * frequency table a product/funnel review actually reads.
    *
    * Shape: sessionization, the running session counter AND the
    * in-session step index all ride ONE window partitioning on
    * user_id (the step index is `rn − last session-start rn`, so no
    * second exchange on (user, session) for a window); the path
    * string materializes per session from a sorted struct collect
    * bounded at `maxSteps` elements; path counting is map-side
    * combined; and the final cut is TakeOrdered — a k-bounded heap,
    * never a global sort, because distinct-path cardinality grows
    * like |event_types|^maxSteps at corpus scale.
    */
  def topPaths(events: DataFrame, k: Int = 20, maxSteps: Int = 8,
               gapSec: Long = 1800L): DataFrame = {
    require(k > 0 && maxSteps > 0 && gapSec > 0,
      s"k ($k), maxSteps ($maxSteps), gapSec ($gapSec) must be positive")
    val wo = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = wo.rowsBetween(Window.unboundedPreceding, 0)
    val stepped = events
      .withColumn("rn", row_number().over(wo))
      .withColumn("new_sess",
        when(lag(col("ts"), 1).over(wo).isNull ||
          col("ts").cast("double") -
            lag(col("ts"), 1).over(wo).cast("double") > gapSec.toDouble, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_sess").over(run))
      .withColumn("step",
        col("rn") - max(when(col("new_sess") === 1, col("rn"))).over(run) + 1)
      .filter(col("step") <= maxSteps)
    val paths = stepped
      .groupBy("user_id", "session_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("step"),
          col("event_type")))), x => x.getField("event_type")),
        ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }
}
