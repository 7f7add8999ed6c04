package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream analytics in batch form over the `events` fixture,
  * all oracle-checked.
  *
  * Numeric-sum parity note: `value` sums run as exact integer cents
  * (round(value*100) per row, BIGINT sum) — double summation order
  * across rows is engine-dependent; integer addition is exact and
  * associative, so hashes match in both engines. The oracle wraps every
  * sum in an outer CAST(... AS BIGINT): DuckDB's sum(BIGINT) yields
  * HUGEINT, which pandas widens to float64 and the driver's dtype-aware
  * hash then mismatches Spark's int64 even when the values are equal
  * (the r1 `ev_window_agg`/`ev_top_users`/`rel_revenue_monthly` failure).
  */
object EventQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling-window aggregation;
    // window key emitted as epoch SECONDS (BIGINT) for engine-agnostic
    // hashing (ts arrives as epoch-nanos BIGINT, see Tables.events)
    "ev_window_agg" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("window_start_s", expr("(ts DIV 60000000000) * 60"))
        .groupBy(col("window_start_s"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
        .select(col("window_start_s"), col("event_type"),
          col("n_events"), col("total_value_cents"))
        .orderBy(col("window_start_s"), col("event_type"))
    },
    // gap-based sessionization in batch: lag + cumulative-sum session ids
    "ev_sessionize" -> { (s, dir) =>
      // integer epoch-microseconds on both engines: the fixture's ts is
      // ns-precision parquet (Spark truncates to us, DuckDB keeps ns) —
      // explicit us arithmetic removes the precision skew entirely
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      // pin ROWS frame: Spark's default RANGE frame treats order-key
      // peers as one group — only equivalent to the oracle's ROWS frame
      // while (us, event_id) stays unique
      val byUserRows = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gapUs = 60000000L
      val sessions = Tables.events(s, dir)
        .withColumn("us", expr("ts DIV 1000"))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1)
            .otherwise(0))
        .withColumn("session_seq", sum(col("new_session")).over(byUserRows))
      sessions
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          ((max(col("us")) - min(col("us"))) / 1000).cast("long").as("duration_ms"))
        .orderBy(col("user_id"), col("session_seq"))
    },
    // exact percentiles per event type (sort-based `percentile` — the
    // linear-interpolation formula matches DuckDB quantile_cont
    // bit-for-bit, verified including float artifacts)
    "ev_quantiles" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.9)).as("p90"))
        .orderBy(col("event_type"))
    },
    // as-of join: each click labeled with the user's most recent
    // purchase at or before it (point-in-time feature attribution).
    // Union+window formulation — one shuffle, no join node; the oracle
    // is DuckDB's native ASOF JOIN, so semantics are pinned exactly.
    // Join arithmetic runs in integer MICROSECONDS on both engines
    // (the ev_sessionize parity rule): DuckDB reads the ns parquet as
    // us TIMESTAMP, so comparing raw ns Spark-side would reintroduce
    // sub-us boundary skew.
    "ev_asof_purchase" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts DIV 1000").as("p_us"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
      graft.operators.AsofJoin.asofBackward(
          clicks, purchases, Seq("user_id"), "click_us", "p_us",
          rightSelect = Seq("p_us" -> "purchase_us", "purchase_cents" -> "purchase_cents"))
        .select(col("event_id"), col("user_id"), col("click_us"),
          col("purchase_us"), col("purchase_cents"))
        .orderBy(col("event_id"))
    },
    // the skew-hardened as-of variant, pinned to the SAME DuckDB ASOF
    // oracle: (keys, hour-slice) window partitions + join-free carry-in
    // instead of one window partition per user — a hot user's events
    // split across span/1h tasks at 100 TB
    "ev_asof_sliced" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts DIV 1000").as("p_us"),
          round(col("value") * 100).cast("long").as("purchase_cents"))
      graft.operators.AsofJoin.asofBackwardSliced(
          clicks, purchases, Seq("user_id"), "click_us", "p_us",
          rightSelect = Seq("p_us" -> "purchase_us", "purchase_cents" -> "purchase_cents"),
          sliceWidth = 3600L * 1000 * 1000)
        .select(col("event_id"), col("user_id"), col("click_us"),
          col("purchase_us"), col("purchase_cents"))
        .orderBy(col("event_id"))
    },
    // range join: every click within 24h AFTER a purchase by the same
    // user (attribution-window pairs, possibly many per click). The
    // bucketed equi-join form — no inequality-join cross product; the
    // oracle is DuckDB's plain BETWEEN join. Same us-domain parity rule
    // as ev_asof_purchase.
    "ev_range_attrib" -> { (s, dir) =>
      val dayUs = 86400L * 1000 * 1000
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts DIV 1000").as("p_start"),
          (expr("ts DIV 1000") + dayUs).as("p_end"))
      graft.operators.RangeJoin.pointInRange(
          clicks, purchases, Seq("user_id"), "click_us", "p_start", "p_end",
          bucketWidth = dayUs,
          rightSelect = Seq("p_start" -> "purchase_us"))
        .select(col("event_id"), col("user_id"), col("click_us"), col("purchase_us"))
        .orderBy(col("event_id"), col("purchase_us"))
    },
    // sketch profile — the 100 TB form of ev_quantiles/count-distinct:
    // one pass, mergeable fixed-size state, map-side partial
    // aggregation. HLL++/GK sketch VALUES are not bit-portable across
    // engines, so the gate publishes the profile as a parquet handoff
    // and emits integer-arithmetic BOUND CHECKS (Sketches.profileCheck)
    // that the DuckDB oracle re-derives independently from the raw
    // events — a broken sketch flips a boolean on both sides of the
    // compare. Tight error bounds stay SketchesSpec-gated.
    "ev_sketch_profile" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val prof = graft.operators.Sketches.eventProfile(ev)
      // bench mode times the OPERATOR (the one-pass mergeable sketch
      // profile — the r5 bench shape); the exact-twin bound check is
      // gate instrumentation whose work is precisely what the DuckDB
      // oracle recomputes on its side, so timing it would bench the
      // oracle's workload, not the sketch.
      if (Handoff.benchMode) prof.orderBy(col("event_type"))
      else graft.operators.Sketches.profileCheck(ev,
          Handoff.publish(prof, SketchProfileHandoff))
        .orderBy(col("event_type"))
    },
    // heavy hitters over event_type: Misra-Gries candidate sketch +
    // exact confirm restricted to the candidates — output is EXACT
    // (items with n > 15% of rows), so it oracles despite the sketch
    "ev_heavy_hitters" -> { (s, dir) =>
      graft.operators.Sketches.heavyHitters(
          Tables.events(s, dir).select(col("event_type")), "event_type",
          support = 0.15)
        .orderBy(col("event_type"))
    },
    // per-user event counts, top-10 (hash-agg + TakeOrdered)
    "ev_top_users" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
        .select(col("user_id"), col("n_events"), col("total_value_cents"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(10)
    }
  )

  /** The ev_sketch_profile Spark↔oracle handoff: the sketch outputs
    * (approx_users, p50/p90/p99) per event type, written by the Spark
    * gate, read back by both engines' bound checks. */
  private val SketchProfileHandoff = Handoff.path("sketch_profile")

  val oracle: Map[String, String] = Map(
    "ev_sketch_profile" ->
      s"""WITH p AS (SELECT * FROM read_parquet('$SketchProfileHandoff/*.parquet')),
         |r AS (
         |  SELECT event_type, value,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY value)
         |              AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
         |  FROM events WHERE value IS NOT NULL
         |),
         |b AS (
         |  SELECT event_type,
         |    min(CASE WHEN rn = greatest(1, (nn * 49) // 100) THEN value END) AS lo50,
         |    min(CASE WHEN rn = least(nn, (nn * 51) // 100 + 1) THEN value END) AS hi50,
         |    min(CASE WHEN rn = greatest(1, (nn * 89) // 100) THEN value END) AS lo90,
         |    min(CASE WHEN rn = least(nn, (nn * 91) // 100 + 1) THEN value END) AS hi90,
         |    min(CASE WHEN rn = greatest(1, (nn * 98) // 100) THEN value END) AS lo99,
         |    min(CASE WHEN rn = least(nn, (nn * 100) // 100 + 1) THEN value END) AS hi99
         |  FROM r GROUP BY event_type
         |),
         |x AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         |  FROM events GROUP BY event_type
         |)
         |SELECT p.event_type, x.n,
         |       abs(p.approx_users - x.exact_users) * 4 <= x.exact_users AS hll_ok,
         |       p.p50 >= b.lo50 AND p.p50 <= b.hi50 AS p50_ok,
         |       p.p90 >= b.lo90 AND p.p90 <= b.hi90 AS p90_ok,
         |       p.p99 >= b.lo99 AND p.p99 <= b.hi99 AS p99_ok
         |FROM p JOIN b ON p.event_type = b.event_type
         |JOIN x ON p.event_type = x.event_type
         |ORDER BY p.event_type""".stripMargin,
    "ev_heavy_hitters" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type
        |HAVING CAST(count(*) AS DOUBLE) >
        |       0.15 * (SELECT CAST(count(*) AS DOUBLE) FROM events
        |               WHERE event_type IS NOT NULL)
        |ORDER BY event_type""".stripMargin,
    "ev_window_agg" ->
      """SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) * 60 AS window_start_s,
        |       event_type, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start_s, event_type""".stripMargin,
    "ev_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |), l AS (
        |  SELECT user_id, event_id, us,
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |  FROM e
        |), s AS (
        |  SELECT user_id, event_id, us,
        |         CASE WHEN prev_us IS NULL OR us - prev_us > 60000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM l
        |), sid AS (
        |  SELECT user_id, us,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM s
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       count(*) AS n_events,
        |       CAST((max(us) - min(us)) // 1000 AS BIGINT) AS duration_ms
        |FROM sid GROUP BY session_seq, user_id
        |ORDER BY user_id, session_seq""".stripMargin,
    "ev_range_attrib" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id, c.click_us, p.purchase_us
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND c.click_us BETWEEN p.purchase_us AND p.purchase_us + 86400000000
        |ORDER BY c.event_id, p.purchase_us""".stripMargin,
    "ev_asof_purchase" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us,
        |         CAST(round(value * 100) AS BIGINT) AS purchase_cents
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id, c.click_us, p.purchase_us, p.purchase_cents
        |FROM c ASOF JOIN p
        |  ON c.user_id = p.user_id AND c.click_us >= p.purchase_us
        |ORDER BY c.event_id""".stripMargin,
    "ev_asof_sliced" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us,
        |         CAST(round(value * 100) AS BIGINT) AS purchase_cents
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT c.event_id, c.user_id, c.click_us, p.purchase_us, p.purchase_cents
        |FROM c ASOF JOIN p
        |  ON c.user_id = p.user_id AND c.click_us >= p.purchase_us
        |ORDER BY c.event_id""".stripMargin,
    "ev_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_top_users" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin
  )
}
