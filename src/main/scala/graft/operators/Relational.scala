package graft.operators

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational/analytics core: grouped aggregation, multi-way joins with
  * broadcast dims, window functions, time-bucketed event aggregation,
  * anti-join, gap-based sessionization.
  *
  * Scale notes (100 TB posture):
  *  - only CONSTANT-size dims (nation, region) carry broadcast hints;
  *    fact-proportional relations (customer, supplier, orders) are left
  *    to AQE, which broadcasts while they fit and shuffles beyond;
  *  - aggregations are partial (map-side combine) by construction;
  *  - money sums use exact DECIMAL accumulation (also what you want at
  *    scale: no fp drift across billions of rows), final cast to DOUBLE;
  *  - sessionization is a single shuffle on user_id, then one sort per
  *    partition (window) — the classic scalable formulation.
  */
object Relational extends QueryModule {

  /** exact revenue term: extendedprice * (1 - discount), DECIMAL-exact. */
  private def revenueExpr =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(5,2)") - col("l_discount").cast("decimal(5,2)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST(l_discount AS DECIMAL(5,2)))"

  /** Salt fan-out for the manual skew-mitigation join. */
  val SaltBuckets = 8

  /** q_salted_join: MANUAL skew-salted equi-join as a first-class
    * operator — the deterministic alternative to AQE's runtime skew
    * split when one knows the key is hot (the q_key_skew diagnostic's
    * consumer): the build side (per-user first-seen dim) is replicated
    * ×S with an explicit salt column, the probe side tags each row with
    * salt = hash(row id) mod S, and the join runs on (key, salt) — a
    * hot key's rows now land on S reducers instead of one. The oracle
    * is the PLAIN join with the same final aggregate, so the gate
    * proves the salting is semantics-preserving (every probe row meets
    * exactly one replica). Output aggregates to (event_type,
    * first_day) counts — calendar×types bounded. */
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"))
    val dim = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("first_day"))
    val salted = dim.withColumn("salt",
      explode(array((0 until SaltBuckets).map(lit): _*)))
    val fact = ev.withColumn("salt",
      pmod(xxhash64(col("event_id")), lit(SaltBuckets.toLong)).cast("int"))
    fact.join(salted, Seq("user_id", "salt"))
      .groupBy("event_type", "first_day")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
  }

  private lazy val qSaltedJoinSql =
    """WITH dim AS (
         SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS first_day
         FROM events GROUP BY user_id)
       SELECT event_type, first_day, CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events JOIN dim USING (user_id)
       GROUP BY event_type, first_day"""

  /** TPC-H Q1-style pricing summary (sum/avg/count, decimal-exact). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum(revenueExpr).cast("double").as("sum_disc_price"),
        sum(revenueExpr * (lit(1).cast("decimal(5,2)") + col("l_tax").cast("decimal(5,2)")))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("sum_qty"), col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        round(col("sum_qty") / col("count_order"), 6).as("avg_qty"),
        round(col("sum_base_price") / col("count_order"), 6).as("avg_price"),
        col("count_order"))

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum($revenueSql) AS DOUBLE) AS sum_disc_price,
       CAST(sum($revenueSql * (CAST(1 AS DECIMAL(5,2)) + CAST(l_tax AS DECIMAL(5,2)))) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       GROUP BY l_returnflag, l_linestatus"""

  /** TPC-H Q6-style: predicate-heavy scan aggregation — the pushdown
    * showcase: every filter (date range, discount band, quantity cap) is a
    * plain comparison that reaches the parquet scan as a PushedFilter, so
    * at 100 TB the query reads only row groups whose stats survive. */
  def q6Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(5,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  private val q6Sql =
    """SELECT
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""

  /** TPC-H Q18-style: large-volume orders — a group-HAVING over the fact
    * table feeding a join back to orders/customer. The heavy aggregate
    * runs FIRST (map-side partial sums on orderkey), and only the few
    * surviving keys join onward — the classic shape for "filter by an
    * aggregate" at scale. */
  def q18Having(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .filter(col("sum_qty") > 200)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"), col("sum_qty"))
  }

  private val q18Sql =
    """SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       o_totalprice, sum_qty
       FROM orders
       JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 200) big
         ON o_orderkey = l_orderkey
       JOIN customer ON o_custkey = c_custkey
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""

  /** TPC-H Q3-style: top-10 unshipped-revenue orders for one segment.
    * NO forced broadcast: customer is fact-proportional (it grows with
    * scale factor, unlike nation/region), so a broadcast hint that is
    * convenient at sf0.1 would force executor OOM at 100×. AQE broadcasts
    * the filtered side while it fits and falls back to a shuffle join
    * beyond — the plan that survives scale-up. lineitem ⋈ orders is a
    * fact-fact shuffle on orderkey (AQE picks SMJ + skew handling). */
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      .select(col("l_orderkey"), revenueExpr.as("rev"))
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey").as("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"), col("revenue"))
  }

  private val q3Sql =
    s"""SELECT l_orderkey AS o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       CAST(sum($revenueSql) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1998-01-01'
         AND l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""

  /** TPC-H Q5-style: revenue per nation via a 6-way join. Only the TRUE
    * dims (nation: 25 rows, region: 5 — constant at every scale factor)
    * carry broadcast hints; supplier and customer are fact-proportional,
    * so their joins are left to AQE (broadcast while they fit, shuffle
    * join at a scale where a forced broadcast would OOM). */
  def q5Join(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables.region(s, dir).select("r_regionkey")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revenueExpr.as("rev"))
    li.join(sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q5Sql =
    s"""SELECT n_name, CAST(sum($revenueSql) AS DOUBLE) AS revenue, count(*) AS n_items
       FROM lineitem
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
       WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n_name"""

  /** Window functions: top-3 orders per customer by totalprice.
    * row_number over a unique tiebreak (orderkey) keeps it deterministic. */
  def qWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
  }

  private val qWindowSql =
    """SELECT * FROM (
       SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
       FROM orders) WHERE rn <= 3"""

  /** q_window_funcs: the full analytic-function surface in one pass —
    * lag/lead, rank/dense_rank, percent_rank/cume_dist, first/last over
    * a running frame — per customer order history. ONE window spec (one
    * shuffle on custkey, one sort per partition) serves every function;
    * ties are impossible (orderkey is unique within the sort key). */
  def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"),
        round(percent_rank().over(w), 6).as("pct_rk"),
        round(cume_dist().over(w), 6).as("cume"),
        first(col("o_totalprice")).over(wRun).as("first_price"),
        max(col("o_totalprice")).over(wRun).as("run_max"))
  }

  private val qWindowFuncsSql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         rank() OVER w AS rk,
         dense_rank() OVER w AS drk,
         round(percent_rank() OVER w, 6) AS pct_rk,
         round(cume_dist() OVER w, 6) AS cume,
         first_value(o_totalprice) OVER wr AS first_price,
         max(o_totalprice) OVER wr AS run_max
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
              wr AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  /** q_setops: INTERSECT / EXCEPT / UNION as one tagged result — the
    * customers active in the BUILDING segment's order flow vs the
    * MACHINERY segment's (set semantics, dedup built in). Each branch is
    * a distinct-aggregate; the tag makes the three results one gated
    * relation. */
  def qSetops(s: SparkSession, dir: String): DataFrame = {
    def seg(name: String) =
      Tables.customer(s, dir).filter(col("c_mktsegment") === name)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_nationkey"))
    val b = seg("BUILDING").distinct()
    val m = seg("MACHINERY").distinct()
    b.intersect(m).select(lit("both").as("op"), col("c_nationkey"))
      .unionByName(b.except(m).select(lit("building_only").as("op"), col("c_nationkey")))
      .unionByName(b.union(m).distinct().select(lit("either").as("op"), col("c_nationkey")))
  }

  private val qSetopsSql =
    """WITH b AS (SELECT DISTINCT c_nationkey FROM customer
                  WHERE c_mktsegment = 'BUILDING'
                    AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)),
          m AS (SELECT DISTINCT c_nationkey FROM customer
                  WHERE c_mktsegment = 'MACHINERY'
                    AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
       SELECT 'both' AS op, c_nationkey FROM (SELECT * FROM b INTERSECT SELECT * FROM m)
       UNION ALL
       SELECT 'building_only' AS op, c_nationkey FROM (SELECT * FROM b EXCEPT SELECT * FROM m)
       UNION ALL
       SELECT 'either' AS op, c_nationkey FROM (SELECT * FROM b UNION SELECT * FROM m)"""

  /** The CEP pattern [[qPatternMatch]] counts: view (click|view)* purchase
    * — "a purchase preceded by a view with only browse activity between",
    * anchored to session start. Sessions are encoded as one |-separated
    * type string, so the pattern is a REGEX over a session-bounded value
    * (the MATCH_RECOGNIZE shape, CEP-lite): each alternative/quantifier
    * change is a one-line regex edit, not a new funnel query. */
  val PatternRegex = "^view(\\|(click|view))*\\|purchase"

  /** q_pattern_match: regex-over-sessions event-pattern matching (the
    * composable sequence matcher the fixed funnels 35f/67l special-case:
    * funnels hard-code steps and windows, PrefixSpan 57b MINES frequent
    * patterns — this EVALUATES a declared pattern with quantifiers and
    * alternation). Each session's ordered event types collapse to one
    * bounded string via a session-keyed sort+concat (session length
    * bounds the value; the 30-min sessionize is the same user-keyed
    * machinery as q_paths), then the pattern is one codegen regex per
    * session row. Per-day rollup: sessions, matches, match share. */
  def qPatternMatch(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("t_start"),
        concat_ws("|", array_sort(collect_list(struct(col("us"),
          col("event_id"), col("event_type"))))
          .getField("event_type")).as("path"))
    sess
      .select(date_format(col("t_start"), "yyyy-MM-dd").as("day"),
        col("path").rlike(PatternRegex).as("hit"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_matched"))
      .select(col("day"), col("n_sessions"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_sessions").cast("double"),
          6).as("match_rate"))
  }

  private val qPatternMatchSql =
    s"""WITH t AS (
         SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_us
         FROM events),
       se AS (SELECT user_id, event_id, ts, event_type, us,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
         FROM t),
       sess AS (SELECT user_id, session_id, min(ts) AS t_start,
           string_agg(event_type, '|' ORDER BY us ASC, event_id ASC) AS path
         FROM se GROUP BY 1, 2)
       SELECT strftime(t_start, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN regexp_matches(path,
           '^view(\\|(click|view))*\\|purchase') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
         round(CAST(sum(CASE WHEN regexp_matches(path,
           '^view(\\|(click|view))*\\|purchase') THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 6) AS match_rate
       FROM sess GROUP BY 1"""

  /** q_setops_bag: the BAG-semantics set operators (INTERSECT ALL /
    * EXCEPT ALL — 48j's q_setops covers the SET forms; these preserve
    * multiplicities, which is what reconciliation actually needs: "how
    * many copies survive in both" vs "which values appear"). Spark's
    * native intersectAll/exceptAll plan as aggregates + joins with
    * replicate counts — no row explosion beyond min/difference
    * multiplicities. Summarized per nation (value, n) so the gated
    * surface is the multiplicity table itself. */
  def qSetopsBag(s: SparkSession, dir: String): DataFrame = {
    def seg(name: String) =
      Tables.customer(s, dir).filter(col("c_mktsegment") === name)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_nationkey"))
    val b = seg("BUILDING")
    val m = seg("MACHINERY")
    b.intersectAll(m).select(lit("both_all").as("op"), col("c_nationkey"))
      .unionByName(b.exceptAll(m)
        .select(lit("building_surplus").as("op"), col("c_nationkey")))
      .groupBy("op", "c_nationkey").agg(count(lit(1)).as("n"))
  }

  private val qSetopsBagSql =
    """WITH b AS (SELECT c_nationkey FROM customer
                  WHERE c_mktsegment = 'BUILDING'
                    AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)),
          m AS (SELECT c_nationkey FROM customer
                  WHERE c_mktsegment = 'MACHINERY'
                    AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
       SELECT op, c_nationkey, CAST(count(*) AS BIGINT) AS n FROM (
         SELECT 'both_all' AS op, c_nationkey
         FROM (SELECT * FROM b INTERSECT ALL SELECT * FROM m)
         UNION ALL
         SELECT 'building_surplus' AS op, c_nationkey
         FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM m))
       GROUP BY 1, 2"""

  /** q_audience_overlap: event-type audience-overlap matrix (the
    * product-analytics "do the same users do X and Y" panel): per
    * event-type pair, the exact Jaccard of their distinct-user
    * audiences. One (type, user) distinct, one type-keyed pair join on
    * the USER key (fan-out = each user's type-set, bounded by
    * |event types|), |types|²-bounded rollup — never a user×user or
    * event×event product. */
  def qAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val tu = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val aud = tu.groupBy("event_type").agg(count(lit(1)).as("n_aud"))
    val inter = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    inter
      .join(aud.select(col("event_type").as("type_a"), col("n_aud").as("n_a")),
        Seq("type_a"))
      .join(aud.select(col("event_type").as("type_b"), col("n_aud").as("n_b")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
  }

  private val qAudienceOverlapSql =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
       aud AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_aud
               FROM tu GROUP BY 1),
       inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both
         FROM tu a JOIN tu b ON a.user_id = b.user_id
           AND a.event_type < b.event_type
         GROUP BY 1, 2)
       SELECT type_a, type_b, xa.n_aud AS n_a, xb.n_aud AS n_b, n_both,
         round(CAST(n_both AS DOUBLE) / (xa.n_aud + xb.n_aud - n_both), 6)
           AS jaccard
       FROM inter
       JOIN aud xa ON xa.event_type = type_a
       JOIN aud xb ON xb.event_type = type_b"""

  /** q_wau: 7-day sliding distinct users ("weekly active") per day — the
    * sliding-distinct shape: each (user, day) posts to the 7 window-days
    * it supports (bounded ×7 fan-out, an equi-shuffle on window-day; no
    * self-join over the stream), then per window-day an exact distinct
    * AND the HLL sketch whose 5% guarantee the oracle asserts literally
    * (at 100 TB the exact count is the audit path, the sketch is the
    * always-on dashboard path — this query IS the audit of that pair). */
  def qWau(s: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    userDays
      .select(col("user_id"), explode(expr(
        "sequence(day, day + interval 6 days, interval 1 day)")).as("wday"))
      .groupBy(date_format(col("wday"), "yyyy-MM-dd").as("wday"))
      .agg(countDistinct(col("user_id")).as("wau"),
        approx_count_distinct(col("user_id"), 0.02).as("wau_hll"))
      .select(col("wday"), col("wau"),
        (abs(col("wau_hll") - col("wau")).cast("double") / col("wau") < 0.05)
          .as("hll_within_5pct"))
  }

  private val qWauSql =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
       posted AS (
         SELECT user_id, day + to_days(CAST(o AS INT)) AS wday
         FROM ud, unnest(generate_series(0, 6)) t(o))
       SELECT strftime(wday, '%Y-%m-%d') AS wday,
              CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
              TRUE AS hll_within_5pct
       FROM posted GROUP BY 1"""

  /** q_scd2: slowly-changing-dimension type-2 history build — turn an
    * event log into validity intervals per (user, type): each event's
    * value is valid from its timestamp until the next event's (open-ended
    * last row). One shuffle on the key, one lead() pass — the warehouse
    * history-table shape (the complement of q_compact's latest-wins). */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("valid_from"),
        lead(unix_micros(col("ts")), 1).over(w).as("valid_to"),
        (lead(col("event_id"), 1).over(w).isNull).as("is_current"))
  }

  private val qScd2Sql =
    """SELECT user_id, event_type, event_id,
         epoch_us(ts) AS valid_from,
         lead(epoch_us(ts), 1) OVER w AS valid_to,
         lead(event_id, 1) OVER w IS NULL AS is_current
       FROM events
       WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC)"""

  /** Tumbling-window (daily) event aggregation; the streaming twin lives in
    * graft.streaming.EventStream. value sums go through DECIMAL(18,6). */
  def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  private val qEventsWindowSql =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value,
       count(DISTINCT user_id) AS n_users
       FROM events GROUP BY 1, 2"""

  /** q_moving_avg: 7-day trailing average of daily revenue per event type —
    * the windowed-FRAME aggregation shape (ROWS BETWEEN 6 PRECEDING AND
    * CURRENT ROW). The frame aggregate stays DECIMAL (exact, associative —
    * identical in any evaluation order/engine) and only the final division
    * goes through DOUBLE; a double-typed frame sum would be at the mercy of
    * each engine's accumulation order. */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("sv"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(-6, Window.currentRow)
    daily.select(col("day"), col("event_type"),
      round(col("sv").cast("double"), 4).as("day_value"),
      round(sum(col("sv")).over(w).cast("double") / count(lit(1)).over(w), 4)
        .as("avg_7d"))
  }

  private val qMovingAvgSql =
    """WITH daily AS (
         SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           sum(CAST(value AS DECIMAL(18,6))) AS sv
         FROM events GROUP BY 1, 2)
       SELECT day, event_type,
         round(CAST(sv AS DOUBLE), 4) AS day_value,
         round(CAST(sum(sv) OVER w AS DOUBLE) /
               (count(*) OVER w), 4) AS avg_7d
       FROM daily
       WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""

  /** JSON-ish props extraction (regex — engine-portable) + modular grouping. */
  def qEventsProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4).as("sum_value"))

  private val qEventsPropsSql =
    """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) % 10 AS k_mod,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
       FROM events GROUP BY 1"""

  /** Multi-dimensional aggregation: ROLLUP over (returnflag, linestatus)
    * with grouping_id — subtotals and grand total in ONE pass (Spark plans
    * a single Expand + aggregate; no per-level rescans). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    // spread (guide §2.5): the Expand multiplies every row by the
    // grouping-set count INSIDE the scan-fused stage — single-core on an
    // unsplittable input without the exchange
    Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity")),
        dir, "lineitem", col("l_orderkey"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")

  private val qRollupSql =
    """SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  /** q_grouping_sets: EXPLICIT grouping sets — the third member of the
    * multi-dimensional trio (35b ROLLUP is the prefix lattice, q_cube the
    * full lattice; GROUPING SETS picks exactly the marginals a dashboard
    * needs and skips the rest). Sets = {(flag, status), (flag), (status),
    * ()} — the CUBE of two columns spelled explicitly, still ONE Expand +
    * aggregate pass, never per-set rescans. Exact counts + DECIMAL sums,
    * grouping_id disambiguates NULL-as-subtotal from NULL-as-value. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    // spread: the qRollup rationale, explicit sets
    Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(12,2)").as("qty")),
        dir, "lineitem", col("l_orderkey"))
      .select(col("l_returnflag"), col("l_linestatus"), col("qty"))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("qty")).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")

  private val qGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         (l_returnflag), (l_linestatus), ())"""

  /** Trailing RANGE-frame window length in days. */
  val RangeFrameDays = 30

  /** q_range_frame: VALUE-range window frames — the semantic ROWS frames
    * (33b moving average) cannot express: "this customer's order volume
    * in the 30 days BEFORE each order" must scale the frame by the GAPS
    * in the date sequence, not by a row count (a customer with sparse
    * orders gets a thin frame, a bursty one a wide frame). Ordering key =
    * exact integer epoch-day, frame = RANGE 30 PRECEDING — identical
    * integer semantics in both engines (Spark's rangeBetween and
    * DuckDB's RANGE both take the numeric key). Per-customer partitions
    * are order-count-bounded; sums stay DECIMAL. */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-RangeFrameDays, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_sum", sum(col("price")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        col("trail_n"), round(col("trail_sum"), 2).as("trail_sum"))
  }

  private lazy val qRangeFrameSql =
    s"""WITH o AS (
         SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
         FROM orders)
       SELECT o_custkey, o_orderkey, day,
         CAST(count(*) OVER w AS BIGINT) AS trail_n,
         round(CAST(sum(price) OVER w AS DOUBLE), 2) AS trail_sum
       FROM o
       WINDOW w AS (PARTITION BY o_custkey ORDER BY day
         RANGE BETWEEN $RangeFrameDays PRECEDING AND CURRENT ROW)"""

  /** q_copurchase: market-basket association pairs — parts bought together
    * in the same order, support-thresholded (the A-priori L2 building
    * block). Baskets are grouped once and pairs expanded INSIDE the row
    * (functions.Pairs — one shuffle, no posting self-join); basket width
    * is naturally bounded (lineitems per order), the same precondition
    * the dedup pair generators enforce with df-caps. */
  /** Support-thresholded co-purchase pair counts (a < b), the shared
    * subtree of q_copurchase / q_item_sim / q_link_pred — memoized and
    * persisted per sf dir (the ModelCache rule for hot shared subtrees:
    * the basket explode + pair aggregate runs ONCE per session, the
    * three consumers read the pair-sized cached relation). */
  private def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"rel.copairs:$dir") {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy("l_orderkey")
        .agg(collect_list(col("l_partkey")).as("ps"))
        .filter(size(col("ps")) >= 2)
        .select(explode(graft.functions.Pairs.orderedPairs(col("ps"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def qCopurchase(s: SparkSession, dir: String): DataFrame =
    copurchasePairs(s, dir)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("n_ab").as("n_orders"))

  private val qCopurchaseSql =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
       FROM lp a JOIN lp b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2 HAVING count(*) >= 2"""

  /** q_item_sim: item–item cosine similarity with per-item top-k — the
    * normalized recommender layer on top of q_copurchase's raw pair
    * counts (raw counts rank popular items first; cosine
    * n_ab/√(deg_a·deg_b) is the classic Amazon item-to-item correction).
    * Same bounded pair expansion as q_copurchase (pairs built INSIDE the
    * basket row via functions.Pairs — one shuffle, never a posting
    * self-join), symmetrized, degrees attached from the part-sized
    * distinct-order counts (dimension table — AQE broadcasts it), then
    * ONE rank window per part keeps top-3 by (cosine desc, part_b asc).
    * cosine is one double expression over three exact integers —
    * identical IEEE value in both engines, round(6) only on output,
    * ranking on the raw double. */
  def qItemSim(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val deg = lp.groupBy("l_partkey").agg(count(lit(1)).as("deg"))
    val pr = copurchasePairs(s, dir)
    val sym = pr.select(col("a").as("part_a"), col("b").as("part_b"), col("n_ab"))
      .unionByName(pr.select(col("b").as("part_a"), col("a").as("part_b"), col("n_ab")))
    val cosine = col("n_ab").cast("double") /
      sqrt(col("deg_a").cast("double") * col("deg_b"))
    val scored = sym
      .join(deg.select(col("l_partkey").as("part_a"), col("deg").as("deg_a")), Seq("part_a"))
      .join(deg.select(col("l_partkey").as("part_b"), col("deg").as("deg_b")), Seq("part_b"))
      .withColumn("cos", cosine)
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("part_a")
        .orderBy(col("cos").desc, col("part_b").asc)))
      .filter(col("rank") <= 3)
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round(col("cos"), 6).as("cosine"), col("rank"))
  }

  private val qItemSimSql =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       deg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS deg
               FROM lp GROUP BY 1),
       pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                CAST(count(*) AS BIGINT) AS n_ab
              FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey <> b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
       sc AS (SELECT part_a, part_b, n_ab,
                CAST(n_ab AS DOUBLE)
                  / sqrt(CAST(da.deg AS DOUBLE) * db.deg) AS cos
              FROM pr JOIN deg da ON da.l_partkey = part_a
                JOIN deg db ON db.l_partkey = part_b),
       rk AS (SELECT part_a, part_b, n_ab, cos,
                row_number() OVER (PARTITION BY part_a
                  ORDER BY cos DESC, part_b ASC) AS rank
              FROM sc)
       SELECT part_a, part_b, n_ab, round(cos, 6) AS cosine,
         CAST(rank AS INT) AS rank
       FROM rk WHERE rank <= 3"""

  /** Hub cap for [[qLinkPred]]'s wedge centers: a shared neighbor with
    * more co-purchase partners than this carries ≈ no Adamic–Adar
    * signal (1/ln(deg) → 0) but degree² wedge pairs — the df-cap rule
    * the dedup posting joins enforce, applied to link prediction. */
  val LinkPredHubCap = 64

  /** q_link_pred: link prediction over the co-purchase graph — the
    * classic common-neighbor score family (Liben-Nowell & Kleinberg):
    * for part pairs at distance 2 that are NOT yet edges, the
    * common-neighbor count, Jaccard overlap cn/(deg_a+deg_b−cn), and
    * Adamic–Adar Σ_z 1/ln(deg_z) over the shared neighbors z.
    * Candidates come from the wedge posting join (adj(z,a) ⋈ adj(z,b),
    * a<b) with hub centers df-capped at [[LinkPredHubCap]] — never an
    * all-pairs product — then existing edges leave by anti-join and
    * cn ≥ 2 bounds the tail. deg_z ≥ 2 for every wedge center (it has
    * two edges by construction), so ln(deg_z) > 0 always; the AA sum is
    * a z-ordered bounded fold (aggregate(array_sort(collect_list…)) ↔
    * list_sum(… ORDER BY z)) — the repo-wide ordered-double-sum
    * discipline, round(6) on output only. */
  def qLinkPred(s: SparkSession, dir: String): DataFrame = {
    val edges = copurchasePairs(s, dir).select("a", "b")
    val adj = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val deg = adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // hub-capped adjacency, read from BOTH sides of the wedge self-join:
    // checkpoint so the adjacency ⋈ degree chain materializes once
    val centers = adj
      .join(deg.select(col("node").as("a"), col("deg").as("deg_z")), Seq("a"))
      .filter(col("deg_z") <= LinkPredHubCap)
      .select(col("a").as("z"), col("b").as("nb"), col("deg_z"))
      .localCheckpoint(true)
    val wedges = centers.select(col("z"), col("nb").as("pa"), col("deg_z"))
      .join(centers.select(col("z"), col("nb").as("pb")), Seq("z"))
      .filter(col("pa") < col("pb"))
    val cand = wedges
      .join(edges, wedges("pa") === edges("a") && wedges("pb") === edges("b"),
        "left_anti")
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("cn"),
        aggregate(transform(array_sort(collect_list(struct(col("z"),
          (lit(1.0) / log(col("deg_z").cast("double"))).as("t")))),
          x => x.getField("t")), lit(0.0), (a, x) => a + x).as("aa"))
      .filter(col("cn") >= 2)
    cand
      .join(deg.select(col("node").as("pa"), col("deg").as("deg_a")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("deg_b")), Seq("pb"))
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        round(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")), 6).as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"))
  }

  private val qLinkPredSql =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       e AS (SELECT a.l_partkey AS a, b.l_partkey AS b
             FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 2),
       adj AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
               FROM adj GROUP BY 1),
       ctr AS (SELECT adj.a AS z, adj.b AS nb, deg.deg AS deg_z
               FROM adj JOIN deg ON deg.node = adj.a
               WHERE deg.deg <= $LinkPredHubCap),
       w AS (SELECT x.z, x.nb AS pa, y.nb AS pb, x.deg_z
             FROM ctr x JOIN ctr y ON x.z = y.z AND x.nb < y.nb),
       cand AS (
         SELECT pa, pb, CAST(count(*) AS BIGINT) AS cn,
           list_sum(list(1.0 / ln(CAST(deg_z AS DOUBLE)) ORDER BY z)) AS aa
         FROM w WHERE NOT EXISTS (
           SELECT 1 FROM e WHERE e.a = w.pa AND e.b = w.pb)
         GROUP BY 1, 2 HAVING count(*) >= 2)
       SELECT pa AS part_a, pb AS part_b, cn, da.deg AS deg_a,
         db.deg AS deg_b,
         round(CAST(cn AS DOUBLE) / (da.deg + db.deg - cn), 6) AS jaccard,
         round(aa, 6) AS adamic_adar
       FROM cand JOIN deg da ON da.node = pa JOIN deg db ON db.node = pb"""

  /** q_connected_components: connected components of the co-purchase
    * graph — the graph-topology member the recommender family was
    * missing (q_copurchase counts edges, q_item_sim normalizes them,
    * q_link_pred scores wedges, q_als factorizes; components answer
    * "which items form one connected market at all", the partitioning a
    * catalog team uses to shard recommendation models). The components
    * come from [[Dedup.connectedComponents]] over the dimension-sized
    * edge set (the fact table was left behind at the basket aggregate),
    * plus one size join. The component id is the MINIMUM part id of the
    * component — deterministic, no RNG — so the full (part → component,
    * size) mapping hash-gates against a DuckDB recursive-CTE reachability
    * closure (min reachable id per node): same semantics, entirely
    * different algorithm, which is exactly what the gate is for. */
  def qConnectedComponents(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.connectedComponents(copurchasePairs(s, dir))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("part"), col("label").as("component"),
        col("comp_size"))
  }

  private val qConnectedComponentsSql =
    """WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey
           FROM lineitem),
       e AS (SELECT a.l_partkey AS a, b.l_partkey AS b
             FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 2),
       adj AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       walk(node, reach) AS (
         SELECT DISTINCT a, a FROM adj
         UNION
         SELECT w.node, adj.b FROM walk w JOIN adj ON adj.a = w.reach),
       comp AS (SELECT node, min(reach) AS component
                FROM walk GROUP BY node),
       sz AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
              FROM comp GROUP BY 1)
       SELECT c.node AS part, c.component, s.comp_size
       FROM comp c JOIN sz s ON s.component = c.component"""

  /** The order-date split for [[qCcIncremental]]: orders before the
    * cutoff are the accumulated "state", the rest are the day's delta
    * (~80/20 on the driver calendar). */
  val CcIncrCutoff = "2000-06-01"

  /** q_cc_incremental: INCREMENTAL connected-components maintenance —
    * the pattern a 100 TB graph actually runs daily (recomputing CC over
    * the accumulated edge set every day is the naive plan; the
    * incremental plan folds the day's delta into yesterday's labels):
    *
    *  1. pair counts are maintained incrementally — the co-purchase
    *     support count is ADDITIVE over disjoint order sets, so
    *     base counts (yesterday's materialized state) + delta counts
    *     merge by one sum, never rescanning history (the q_incr_agg
    *     law applied to the graph substrate);
    *  2. labels are maintained incrementally — the NEW edges are
    *     CONTRACTED through yesterday's labels (each endpoint → its base
    *     component id) and CC runs over that |Δ|-sized quotient graph
    *     only; final labels are one join re-mapping base labels through
    *     the quotient result. Correctness is the standard contraction
    *     argument (reachability over the quotient equals reachability
    *     over base ∪ Δ, and quotient node ids are component MINIMA, so
    *     the quotient min IS the global min), and since edges only ever
    *     appear (support counts grow monotonically), base ∪ Δ IS the
    *     full graph.
    *
    * The gate is the whole point: the oracle is the FULL-graph
    * recursive-CTE closure (byte-identical to q_connected_components'),
    * so the incremental path must reproduce the full recompute row for
    * row, component ids and sizes included. */
  def qCcIncremental(s: SparkSession, dir: String): DataFrame = {
    // LEFT join: the full-graph oracle derives edges from lineitem
    // ALONE, so lineitem rows with no matching orders row (chain-mode
    // Amplify bridge rows use synthetic l_orderkey values) must keep
    // their edges — an inner join would silently drop them and diverge
    // from q_connected_components on chain dirs. Orphans default into
    // the base state (deterministic; any split preserves base ∪ Δ).
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left_outer")
      .select(col("l_orderkey"), col("l_partkey"),
        (coalesce(col("o_orderdate"), lit("1992-01-01").cast("timestamp")) <
          lit(CcIncrCutoff).cast("timestamp")).as("is_base"))
    def pairCounts(df: DataFrame): DataFrame = df
      .groupBy("l_orderkey")
      .agg(collect_list(col("l_partkey")).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ps"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
    // yesterday's state — pair counts AND labels — memoized + persisted
    // per (session, dir), exactly as production materializes them as
    // tables: the measured incremental cost is the delta fold, not the
    // state build (the q_exact_substr warm-read convention; the state
    // build is charged to the first run)
    val baseCounts = graft.ModelCache.getOrElseUpdate(s, s"rel.ccincr.counts:$dir") {
      pairCounts(lp.filter(col("is_base")).select("l_orderkey", "l_partkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // the day's delta counts are also counted ONCE (production counts
    // each day's delta a single time and keeps it)
    val deltaCounts = graft.ModelCache.getOrElseUpdate(s, s"rel.ccincr.delta:$dir") {
      pairCounts(lp.filter(!col("is_base")).select("l_orderkey", "l_partkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val baseEdges = baseCounts.filter(col("n") >= 2).select("a", "b")
    // only pairs PRESENT in the delta can change edge-set membership
    // (base-only counts don't move), so the merge is one |Δ|-bounded
    // left join against the state — never a re-aggregation of history
    val deltaEdges = deltaCounts
      .join(baseCounts.select(col("a"), col("b"), col("n").as("nb")),
        Seq("a", "b"), "left_outer")
      .filter(col("n") + coalesce(col("nb"), lit(0L)) >= 2 &&
        coalesce(col("nb"), lit(0L)) < 2) // already-edges are not new
      .select("a", "b")
      // |Δ|-bounded; TWO consumers per fold (the quotient probe and the
      // new-node derivation) each replayed the counts merge otherwise
      .localCheckpoint(true)
    val baseLabels = graft.ModelCache.getOrElseUpdate(s, s"rel.ccincr.labels:$dir") {
      // localCheckpoint, not persist (the clustersOf rationale): persist
      // keeps the whole iterative CC fold as the logical plan, and every
      // fold-consumer ACTION (the quotient take, the final save) paid
      // the many-thousand-node canonicalization per cache lookup
      Dedup.connectedComponents(baseEdges) // yesterday's labels
        .localCheckpoint(true)
    }
    // node-sized; the sizes aggregate and the final join both read the
    // merged labels — materialize once or the whole fold chain replays
    val labels = ccFoldBatch(baseLabels, deltaEdges).localCheckpoint(true)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("part"), col("label").as("component"),
        col("comp_size"))
  }

  /** ONE batch step of incremental connected-components maintenance —
    * the reusable fold behind [[qCcIncremental]] (see its doc for the
    * contraction argument). `prevLabels` (id, label) is the stored label
    * state (empty for a cold start — the fold from empty IS the full
    * recompute), `deltaEdges` (a, b) the batch's new edges; returns the
    * merged (id, label) state. QUOTIENT contraction: map each Δ endpoint
    * to its base component label (new nodes map to themselves), run CC
    * over the |Δ|-sized quotient only, then one join re-maps the base
    * labels. Quotient node ids are base labels (each = the MIN
    * of its base component) or new node ids, so the quotient min IS the
    * merged component's global min. StreamingSpec folds edge
    * micro-batches through this and pins equality with the one-shot
    * loop. */
  def ccFoldBatch(prevLabels: DataFrame, deltaEdges: DataFrame): DataFrame = {
    val quotient = deltaEdges
      .join(prevLabels.select(col("id").as("a"), col("label").as("la")),
        Seq("a"), "left_outer")
      .join(prevLabels.select(col("id").as("b"), col("label").as("lb")),
        Seq("b"), "left_outer")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val qLabels = Dedup.connectedComponents(quotient)
      .select(col("id").as("qid"), col("label").as("qlabel"))
    // final labels: base nodes re-map through their (possibly merged)
    // base label; Δ-only nodes enter as themselves
    val newNodes = deltaEdges.select(col("a").as("id"))
      .unionByName(deltaEdges.select(col("b").as("id"))).distinct()
      .join(prevLabels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    prevLabels.unionByName(newNodes)
      .join(qLabels, col("label") === col("qid"), "left_outer")
      .select(col("id"), coalesce(col("qlabel"), col("label")).as("label"))
  }

  /** q_concurrency: peak concurrent sessions per day — the capacity
    * number an ops dashboard reads (licensing, connection pools,
    * autoscaler floors): sweep-line over the gap-sessionized intervals
    * (same session construction as q_session_stats), +1 at each start,
    * −1 at each end, starts processed first at a tied instant (a
    * touching handover counts as overlapping). The running sum is the
    * distributed exclusive prefix over the DISTINCT-instant relation
    * (Ranks.globalPrefixSum — range-partitioned two-pass, never a
    * single-partition window), and because the maximum of the sweep is
    * always attained AT a session start, per-day peak = max over that
    * day's start instants of cum_before + starts_at_instant. Exact
    * integers end to end. */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("us")).as("st_us"), max(col("us")).as("en_us"))
    concurrencySweep(sess)
  }

  /** The sweep-line half of [[qConcurrency]], factored so the streaming
    * twin (EventStream.concurrencyRefresh — r16 verdict task 5) re-runs
    * the IDENTICAL arithmetic over its closed-session store on every
    * refresh. Input: one row per session with (st_us, en_us) micros. */
  def concurrencySweep(sess: DataFrame): DataFrame = {
    val inst = sess.select(col("st_us").as("us"), lit(1L).as("ds"), lit(0L).as("de"))
      .unionByName(sess.select(col("en_us").as("us"), lit(0L).as("ds"), lit(1L).as("de")))
      .groupBy("us")
      .agg(sum(col("ds")).as("n_starts"), sum(col("de")).as("n_ends"))
      .withColumn("net", col("n_starts") - col("n_ends"))
    val cum = graft.functions.Ranks.globalPrefixSum(inst, "net", col("us").asc)
    cum.filter(col("n_starts") > 0)
      .select(date_format(timestamp_micros(col("us")), "yyyy-MM-dd").as("day"),
        (col("cum_before") + col("n_starts")).as("peak"),
        col("n_starts"))
      .groupBy("day")
      .agg(max(col("peak")).as("peak_concurrent"),
        sum(col("n_starts")).as("n_started"))
  }

  private val qConcurrencySql =
    """WITH t AS (
         SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC) AS prev_us
         FROM events),
       f AS (
         SELECT user_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
             THEN 1 ELSE 0 END AS new_sess,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
             THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
         FROM t),
       sess AS (
         SELECT user_id, session_id, min(us) AS st_us, max(us) AS en_us
         FROM f GROUP BY 1, 2),
       b AS (SELECT st_us AS us, 1 AS ds, 0 AS de FROM sess
             UNION ALL SELECT en_us, 0, 1 FROM sess),
       inst AS (SELECT us, CAST(sum(ds) AS BIGINT) AS n_starts,
                  CAST(sum(de) AS BIGINT) AS n_ends
                FROM b GROUP BY 1),
       c AS (SELECT us, n_starts,
               sum(n_starts - n_ends) OVER (ORDER BY us
                 ROWS UNBOUNDED PRECEDING) - (n_starts - n_ends)
                 AS cum_before
             FROM inst)
       SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
         CAST(max(cum_before + n_starts) AS BIGINT) AS peak_concurrent,
         CAST(sum(n_starts) AS BIGINT) AS n_started
       FROM c WHERE n_starts > 0
       GROUP BY 1"""

  /** q_new_vs_returning: the daily new-vs-returning active-user split —
    * the growth dashboard's first panel (is today's traffic acquisition
    * or retention?): first-seen day per user from one min-aggregate,
    * then per day the distinct actives partitioned by whether their
    * first-seen day IS that day. Two user-keyed aggregates + one
    * day-keyed count — every relation user- or calendar-bounded; the
    * one ratio divides two exact counts. */
  def qNewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("day")).as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new").cast("double") / col("n_active"), 6).as("pct_new"))
  }

  private val qNewVsReturningSql =
    """WITH ud AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
         FROM events),
       f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
       SELECT ud.day, CAST(count(*) AS BIGINT) AS n_active,
         CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(count(*) - sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
           AS BIGINT) AS n_returning,
         round(CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
           AS DOUBLE) / count(*), 6) AS pct_new
       FROM ud JOIN f ON f.user_id = ud.user_id
       GROUP BY 1"""

  /** q_funnel_time: conversion-latency distribution per conversion day —
    * the LATENCY panel q_funnel's single overall median can't show (a
    * launch that slows time-to-convert is invisible in the rate):
    * per user the first view and the earliest in-window purchase (the
    * q_funnel construction verbatim), keyed to the day the conversion
    * LANDS, then exact interpolated p25/p50/p90 of the delay in minutes
    * over day-bounded conversion sets (the q_session_stats percentile
    * rule: never corpus-sized percentile state). */
  def qFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t_view"))
    val windowUs = 7L * 24 * 3600 * 1000000L
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") > col("t_view") && col("us") <= col("t_view") + windowUs)
      .groupBy("user_id", "t_view").agg(min(col("us")).as("t_conv"))
      .select(col("user_id"),
        date_format(timestamp_micros(col("t_conv")), "yyyy-MM-dd").as("day"),
        (col("t_conv") - col("t_view")).as("delay_us"))
    conv.groupBy("day")
      .agg(count(lit(1)).as("n_conversions"),
        round(expr("percentile(delay_us, 0.25)") / 60000000.0, 4).as("p25_min"),
        round(expr("percentile(delay_us, 0.5)") / 60000000.0, 4).as("p50_min"),
        round(expr("percentile(delay_us, 0.9)") / 60000000.0, 4).as("p90_min"))
  }

  private val qFunnelTimeSql =
    """WITH fv AS (
         SELECT user_id, min(epoch_us(ts)) AS t_view
         FROM events WHERE event_type = 'view' GROUP BY user_id),
       conv AS (
         SELECT e.user_id,
           strftime(make_timestamp(min(epoch_us(e.ts))), '%Y-%m-%d') AS day,
           min(epoch_us(e.ts)) - fv.t_view AS delay_us
         FROM events e JOIN fv ON e.user_id = fv.user_id
         WHERE e.event_type = 'purchase'
           AND epoch_us(e.ts) > fv.t_view
           AND epoch_us(e.ts) <= fv.t_view + CAST(604800000000 AS BIGINT)
         GROUP BY e.user_id, fv.t_view)
       SELECT day, CAST(count(*) AS BIGINT) AS n_conversions,
         round(quantile_cont(delay_us, 0.25) / 60000000.0, 4) AS p25_min,
         round(quantile_cont(delay_us, 0.5) / 60000000.0, 4) AS p50_min,
         round(quantile_cont(delay_us, 0.9) / 60000000.0, 4) AS p90_min
       FROM conv GROUP BY 1"""

  /** q_rfm: RFM customer segmentation — the marketing-ops workhorse
    * (recency / frequency / monetary quintile scores, 111..555): per
    * customer the three metrics from ONE orders aggregate, then three
    * EXACT global quintile rankings through the distributed ntile
    * machinery (Ranks.globalRowNumber + ntileOf — the q_ntile path,
    * never a single-partition window; each ranking carries the custkey
    * tiebreak so both engines walk identical orders). Scores: R counts
    * stale days DESC (most recent ⇒ 5), F and M count ASC (heaviest ⇒
    * 5). Output is the ≤125-cell segment rollup — bounded regardless of
    * customer count. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val anchor = o.agg(max(col("o_orderdate")).as("d_max"))
    // customer-sized metric relation, memoized+persisted per dir: three
    // ranking passes consume it (the copurchasePairs rule)
    val m = graft.ModelCache.getOrElseUpdate(s, s"rel.rfm_metrics:$dir") {
      o.crossJoin(broadcast(anchor))
        .groupBy("o_custkey")
        .agg(min(datediff(col("d_max"), col("o_orderdate"))).as("recency_days"),
          count(lit(1)).as("freq"), sum(col("price")).as("monetary"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // Quintile scores WITHOUT numbering every row: ntile(5) only needs
    // the 4 bucket-BOUNDARY positions, and in a total order (metric,
    // custkey-tiebreak) "rank ≤ boundary" ⟺ "sort tuple ≤ tuple at the
    // boundary" — so one rank-PICK pass (Ranks.groupedValueAtRanks, all
    // three metrics unioned under a metric-id group) fetches 12
    // driver-sized cut tuples, and each row scores by comparing its own
    // tuple against its metric's cuts. Replaces the r20 shape — three
    // full globalRowNumber materializations (range shuffle + count job +
    // Row-RDD rebuild each) plus two custkey shuffle joins — with one
    // range shuffle over 3·|customers| skinny rows and zero joins
    // (measured 2.3 s → ~0.8 s at sf0.1). Bucket semantics are EXACTLY
    // SQL ntile: boundary_j = j·(N/5) + min(j, N%5), score = 1 + #{j :
    // tuple > tuple_at(boundary_j)}; recency negates so all three orders
    // are ascending. Cuts stay driver-sized at any scale (guide §2.3 —
    // shuffle keys, not payloads).
    def skey(v: Column): Column = v.cast("decimal(38,2)")
    val u = m.select(lit(1).as("mid"),
        struct((-col("recency_days")).cast("decimal(38,2)").as("v"),
          col("o_custkey").as("ck")).as("sk"))
      .unionByName(m.select(lit(2).as("mid"),
        struct(skey(col("freq")).as("v"), col("o_custkey").as("ck")).as("sk")))
      .unionByName(m.select(lit(3).as("mid"),
        struct(skey(col("monetary")).as("v"), col("o_custkey").as("ck")).as("sk")))
    def boundaryRanks(n: Long): Seq[Long] = {
      val q = n / 5; val r = n % 5
      (1 to 4).map(j => j * q + math.min(j.toLong, r))
    }
    val (counts, picks) = graft.functions.Ranks.groupedValueAtRanks(
      u, "mid", "sk", n => boundaryRanks(n).filter(_ >= 1).distinct)
    val tupleAt: Map[(Any, Long), (java.math.BigDecimal, Long)] =
      picks.map { case (g, k, v) =>
        val row = v.asInstanceOf[org.apache.spark.sql.Row]
        // typed match instead of getLong: custkey is BIGINT on the
        // driver tables, but the scoring only needs an ordered literal,
        // so an INT-keyed variant must not throw (r21 ADVICE)
        val ckv = row.get(1) match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case other => throw new IllegalArgumentException(
            s"qRfm: unsupported custkey type ${other.getClass}")
        }
        (g, k) -> (row.getDecimal(0), ckv)
      }.toMap
    def scoreOf(mid: Int, v: Column, ck: Column): Column = {
      // getOrElse: with an EMPTY orders table the rank pass returns no
      // groups — n = 0 makes every boundary rank 0, the fold below
      // skips them, and the score expression degrades to lit(1) over an
      // empty relation instead of throwing at plan build (r21 ADVICE)
      val n = counts.getOrElse(mid, 0L)
      boundaryRanks(n).foldLeft(lit(1)) { (acc, rank) =>
        if (rank < 1) acc
        else {
          val (cv, cck) = tupleAt((mid, rank))
          acc + (v > lit(cv) || (v === lit(cv) && ck > lit(cck))).cast("int")
        }
      }
    }
    m.select(col("o_custkey"),
        scoreOf(1, (-col("recency_days")).cast("decimal(38,2)"), col("o_custkey")).as("r_score"),
        scoreOf(2, skey(col("freq")), col("o_custkey")).as("f_score"),
        scoreOf(3, skey(col("monetary")), col("o_custkey")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .select((col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .cast("int").as("rfm_code"),
        col("r_score").cast("int").as("r_score"),
        col("f_score").cast("int").as("f_score"),
        col("m_score").cast("int").as("m_score"),
        col("n_customers"))
  }

  private val qRfmSql =
    """WITH o AS (SELECT o_custkey, o_orderdate,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
       a AS (SELECT max(o_orderdate) AS d_max FROM o),
       m AS (SELECT o_custkey,
               min(date_diff('day', CAST(o_orderdate AS DATE),
                 CAST(d_max AS DATE))) AS recency_days,
               CAST(count(*) AS BIGINT) AS freq,
               sum(price) AS monetary
             FROM o CROSS JOIN a GROUP BY 1),
       sc AS (SELECT o_custkey,
                ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC)
                  AS r_score,
                ntile(5) OVER (ORDER BY freq ASC, o_custkey ASC) AS f_score,
                ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC)
                  AS m_score
              FROM m)
       SELECT CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code,
         CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
         CAST(m_score AS INT) AS m_score,
         CAST(count(*) AS BIGINT) AS n_customers
       FROM sc GROUP BY 1, 2, 3, 4"""

  /** q_cohort_revenue: revenue cohort matrix — the LTV curve finance
    * reads (how much does the month-X cohort spend in month X+k?):
    * cohort = each customer's first order month, month index =
    * 12·Δyear + Δmonth in pure INTEGER arithmetic (never an engine's
    * months_between — fractional-month conventions differ), revenue in
    * exact DECIMAL per (cohort, k) cell. Output is months² cells —
    * calendar-bounded regardless of order volume. */
  def qCohortRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("mo"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val first = o.groupBy("o_custkey")
      .agg(min(col("y") * 12 + col("mo")).as("c0"))
    o.join(first, Seq("o_custkey"))
      .groupBy(col("c0"), (col("y") * 12 + col("mo") - col("c0")).as("k"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(col("price")).cast("double").as("revenue"))
      .select(
        concat(expr("(c0 - 1) div 12").cast("string"), lit("-"),
          lpad(((col("c0") - 1) % 12 + 1).cast("string"), 2, "0"))
          .as("cohort_month"),
        col("k").cast("int").as("month_index"),
        col("n_customers"), col("n_orders"), col("revenue"))
  }

  private val qCohortRevenueSql =
    """WITH o AS (SELECT o_custkey,
           CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
         FROM orders),
       f AS (SELECT o_custkey, min(y * 12 + mo) AS c0 FROM o GROUP BY 1),
       j AS (SELECT o.o_custkey, f.c0, o.y * 12 + o.mo - f.c0 AS k, o.price
             FROM o JOIN f ON f.o_custkey = o.o_custkey)
       SELECT CAST((c0 - 1) // 12 AS VARCHAR) || '-' ||
           lpad(CAST((c0 - 1) % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
         CAST(k AS INT) AS month_index,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(price) AS DOUBLE) AS revenue
       FROM j GROUP BY c0, k"""

  /** ABC class boundaries on cumulative revenue share (the classic
    * Pareto 80/15/5 split). */
  val AbcA = 0.80
  val AbcB = 0.95

  /** q_abc: ABC / Pareto analysis of parts by revenue — the inventory-
    * classification staple (A-parts: the few that carry 80% of revenue;
    * C-parts: the long tail): revenue per part in exact DECIMAL cents,
    * the cumulative share over the revenue-descending order via the
    * DISTRIBUTED exclusive prefix sum (Ranks.globalPrefixSum — a global
    * running total over a scaling table must never be a single-partition
    * window), class thresholds on one double division per row. Ties are
    * impossible in the order key (part key is unique, the explicit
    * tiebreak); the output is part-relation-sized, the natural result
    * granularity. */
  def qAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("part_key"))
      .agg(sum((col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("cents"))
    val tot = rev.agg(sum(col("cents")).as("tot"))
    val cum = graft.functions.Ranks.globalPrefixSum(rev, "cents",
      col("cents").desc, col("part_key").asc)
    val share = (col("cum_before") + col("cents")).cast("double") / col("tot")
    cum.crossJoin(broadcast(tot))
      .select(col("part_key"),
        (col("cents").cast("double") / 100).as("revenue"),
        round(share, 6).as("cum_share"),
        when(share <= AbcA, "A").when(share <= AbcB, "B")
          .otherwise("C").as("abc_class"))
  }

  private val qAbcSql =
    s"""WITH rev AS (
         SELECT l_partkey AS part_key,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
             AS BIGINT)) AS BIGINT) AS cents
         FROM lineitem GROUP BY 1),
       tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM rev),
       cum AS (
         SELECT part_key, cents,
           sum(cents) OVER (ORDER BY cents DESC, part_key ASC
             ROWS UNBOUNDED PRECEDING) AS c
         FROM rev)
       SELECT part_key, CAST(cents AS DOUBLE) / 100 AS revenue,
         round(CAST(c AS DOUBLE) / tot, 6) AS cum_share,
         CASE WHEN CAST(c AS DOUBLE) / tot <= $AbcA THEN 'A'
              WHEN CAST(c AS DOUBLE) / tot <= $AbcB THEN 'B'
              ELSE 'C' END AS abc_class
       FROM cum CROSS JOIN tot"""

  /** HITS iteration count (synchronous updates — see [[qHits]]). */
  val HitsIters = 8

  /** q_hits: Kleinberg HITS hubs/authorities over the customer→part
    * purchase bipartite graph — the DIRECTED centrality companion to
    * q_pagerank's undirected rank: hub customers buy many authoritative
    * parts, authoritative parts are bought by many hub customers (the
    * recommender-warm-start signal q_copurchase's pair counts can't
    * express). Synchronous variant (both sides update from the previous
    * iteration — power iteration on AᵀA/AAᵀ per two steps), with NO
    * per-iteration normalization: un-normalized synchronous HITS scales
    * each side by a constant per step, so the final max-normalized
    * ratios are identical — and dropping the norm keeps every score an
    * exact INTEGER carried as DECIMAL(38,0), making the whole fixed
    * point bit-exact in both engines (growth ~(deg_c·deg_p)^(k/2) ≈
    * 10³⁰ worst-case at k=8, far inside decimal range; overflow would
    * surface as NULL, not silent drift). Each round is ONE equi-join
    * (adjacency ⋈ scores) + one aggregation, state two node-sized
    * tables via eager localCheckpoint (the q_pagerank discipline); the
    * oracle replays the identical iterations as a recursive CTE. */
  def qHits(s: SparkSession, dir: String): DataFrame =
    // r22 A/B note: spreading the lineitem scan (§2.5) and fusing the
    // edge dedup into the tgt repartition (§2.4) were both measured and
    // REVERTED — the spread added an exchange without moving wall time
    // (the distinct's exchange already parallelizes the pipeline), and
    // dedup-after-union doubled the join work because the two union
    // branches stop sharing the distinct's reusable exchange subtree.
    hitsOf(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("hub"), col("l_partkey").as("auth")))

  /** HITS core over a (hub, auth) directed bipartite edge relation —
    * see [[qHits]]. Ids are even/odd-namespaced internally so the two
    * sides can never collide. KEY DOMAIN: ids must be non-negative
    * longs < Long.MaxValue/2 — the namespacing doubles them, and the
    * even/odd side split uses `% 2`, which misclassifies negative keys.
    * The domain is enforced loudly: negative ids raise_error at scan
    * time, and the ×2 overflow for ids ≥ 2⁶² throws under ANSI mode
    * (Spark 4 default here) instead of wrapping (r16 ADVICE). */
  def hitsOf(edges: DataFrame): DataFrame = {
    // Ids are namespaced as LONGS (hub → 2k, auth → 2k+1), not strings:
    // every round hashes, shuffles and broadcasts these keys, and an
    // 8-byte long beats a "c<key>" string on all three (r15). The
    // string form exists only in the final projection.
    def nonneg(c: Column, nm: String): Column =
      when(c < 0, raise_error(concat(
        lit(s"hitsOf: negative $nm id outside the key domain: "),
        c.cast("string")))).otherwise(c)
    val e = edges
      .select((nonneg(col("hub").cast("long"), "hub") * 2).as("c"),
        (nonneg(col("auth").cast("long"), "auth") * 2 + 1).as("p"))
      .distinct()
    // Checkpoint the symmetric adjacency PRE-PARTITIONED on tgt — the
    // key every round both joins (broadcast, partitioning-preserving)
    // and aggregates on — so all HitsIters contribution sums are
    // SHUFFLE-FREE partition-local aggregates over the same layout
    // (r15 probe: with keys ≫ rows/partition the per-round partial agg
    // expanded 1.1M adjacency rows to ~2M shuffled partials; paying ONE
    // repartition here retired 7 of those shuffles, 6.2 s → ~4 s at
    // sf0.1). This is the iterative-workload form of "reuse a
    // partitioning across stages" — at cluster scale the win grows with
    // the shuffle fan-out.
    val adj = e.select(col("c").as("src"), col("p").as("tgt"))
      .unionByName(e.select(col("p").as("src"), col("c").as("tgt")))
      .repartition(edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("tgt"))
      .localCheckpoint(true)
    // Iteration 1 from the all-ones init IS the degree count (Σ over
    // neighbors of 1) — run it as a plain count aggregate, which also
    // yields the node id set for free (every node appears as tgt in the
    // symmetric adjacency), dropping the separate distinct-ids init job
    // and the first broadcast round of the old form. Exactness is
    // untouched: count(*) is the identical DECIMAL(38,0) integer.
    // scores are NODE-sized (≪ edges) → broadcast them and keep the
    // edge table in place: each half-step is a map-side hash join + one
    // partial-aggregated shuffle of contribution sums, instead of
    // re-shuffling the full adjacency every iteration (measured 9.9 s
    // → ~3 s at sf0.1). Above broadcast scale (≳10⁸ nodes) swap to
    // the q_pagerank shuffle-join form — the adjacency is already
    // checkpointed for exactly that.
    //
    // NO intermediate checkpoints (r15): every round's scores enter the
    // next round as a BROADCAST build side, and the broadcast exchange
    // already materializes its child exactly once — so a per-round
    // localCheckpoint only adds a redundant materialization job on top
    // (measured: dropping the 4 intermediate checkpoints of the r12 form
    // cut ~1 s of pure job-scheduling overhead at sf0.1). The chain is
    // HitsIters nested joins; ONE eager checkpoint at the end truncates
    // the lineage before normalization reads the final scores twice.
    // Exactness is untouched — the per-node sums are exact
    // DECIMAL(38,0) integers, associative under any regrouping.
    def halfStep(prev: DataFrame): DataFrame =
      adj.join(broadcast(prev.withColumnRenamed("id", "src")), Seq("src"))
        .groupBy(col("tgt").as("id"))
        .agg(sum(col("score")).cast("decimal(38,0)").as("score"))
    val chain = (2 to HitsIters).foldLeft(
      adj.groupBy(col("tgt").as("id"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("score")))(
      (acc, _) => halfStep(acc))
    val score = chain.localCheckpoint(true)
    val side = when(col("id") % 2 === 0, lit("c")).otherwise(lit("p"))
    val mx = score.groupBy(side.as("node_type")).agg(max(col("score")).as("mx"))
    score.select(side.as("node_type"),
        expr("id div 2").as("node_key"), col("score"))
      .join(broadcast(mx), Seq("node_type"))
      .select(col("node_type"), col("node_key"),
        round(col("score").cast("double") / col("mx").cast("double"), 6)
          .as("score"))
  }

  private val qHitsSql =
    s"""WITH RECURSIVE
       e AS (SELECT DISTINCT 'c' || o_custkey AS c, 'p' || l_partkey AS p
             FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       adj AS (SELECT c AS src, p AS tgt FROM e
               UNION ALL SELECT p, c FROM e),
       walk(iter, id, score) AS (
         SELECT 0, src, CAST(1 AS DECIMAL(38,0))
         FROM (SELECT DISTINCT src FROM adj)
         UNION ALL
         SELECT w.iter + 1, a.tgt, CAST(sum(w.score) AS DECIMAL(38,0))
         FROM walk w JOIN adj a ON a.src = w.id
         WHERE w.iter < $HitsIters
         GROUP BY 1, 2),
       fin AS (SELECT id, score FROM walk WHERE iter = $HitsIters),
       mx AS (SELECT id[1] AS node_type, max(score) AS mx FROM fin GROUP BY 1)
       SELECT f.id[1] AS node_type, CAST(f.id[2:] AS BIGINT) AS node_key,
         round(CAST(f.score AS DOUBLE) / CAST(mx.mx AS DOUBLE), 6) AS score
       FROM fin f JOIN mx ON mx.node_type = f.id[1]"""

  /** q_unpivot: melt the lineitem measures to long form (the inverse of
    * q_pivot) and re-aggregate — unpivot is a zero-shuffle projection
    * (each input row fans out to |measures| rows map-side). */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    // spread: the long-form explode (3 measure rows per input row) and
    // the decimal partial agg fuse into the scan stage otherwise
    Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount")),
        dir, "lineitem", col("l_orderkey"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
        sum(col("val").cast("decimal(18,2)")).cast("double").as("total"))

  private val qUnpivotSql =
    """SELECT measure, count(*) AS n,
       CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total FROM (
         SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
         UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
       GROUP BY 1"""

  /** q_cube: full CUBE over (returnflag, linestatus) — all four grouping
    * sets in one pass (Spark expands the sets map-side; one shuffle).
    * Same decimal-exact sum discipline as q_rollup. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    // spread: the qRollup rationale, full lattice
    Tables.spread(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity")),
        dir, "lineitem", col("l_orderkey"))
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")

  private val qCubeSql =
    """SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""

  /** Exact interpolated percentiles per group (both engines use the
    * (n-1)·p linear-interpolation definition; rounded well above fp drift).
    * Exact percentile buffers each group's values — right for the bounded
    * per-event-type groups here; for unbounded groups at 100 TB switch to
    * approx_percentile (t-digest sketch, constant memory per group). */
  def qPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))

  private val qPercentilesSql =
    """SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
       FROM events GROUP BY event_type"""

  /** q_percentiles_approx: the SKETCH twin of q_percentiles — Spark's
    * approx_percentile (Greenwald-Khanna quantile summary: bounded memory
    * per group, mergeable across partitions). THIS is the 100 TB posture
    * for unbounded groups: exact percentile buffers every value of a group
    * in one task; the sketch holds O(accuracy) entries regardless of group
    * size. accuracy=10000 → rank error ≤ n/10000. Rows-only oracle (the
    * sketch picks engine-specific sample points, not the interpolated
    * exact value); Round5Spec bounds its error against the exact twin. */
  def qPercentilesApprox(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("p50"),
        round(expr("approx_percentile(value, 0.95, 10000)"), 4).as("p95"),
        round(expr("approx_percentile(value, 0.99, 10000)"), 4).as("p99"))

  /** q_percentiles_approx (registered, HASH-GATED form): the GK sketch's
    * RANK guarantee as booleans — the empirical CDF at each approx
    * quantile must bracket the target rank within 2% (the sketch's bound
    * is 100× tighter at accuracy 10000, so TRUE is certain while staying
    * a real assertion about the sketch). Group row counts hash-gate the
    * underlying data. */
  def qPercentilesApproxGate(s: SparkSession, dir: String): DataFrame = {
    val cuts = qPercentilesApprox(s, dir)
    Tables.events(s, dir).select(col("event_type"), col("value"))
      .join(broadcast(cuts), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") <= col("p95"), 1L).otherwise(0L)).as("le95"),
        sum(when(col("value") <= col("p99"), 1L).otherwise(0L)).as("le99"))
      .select(col("event_type"), col("n"),
        (abs(col("le50") - lit(0.50) * col("n")) <= col("n") * 0.02 + 2).as("p50_rank_ok"),
        (abs(col("le95") - lit(0.95) * col("n")) <= col("n") * 0.02 + 2).as("p95_rank_ok"),
        (col("le99") >= col("n") * 0.975).as("p99_rank_ok"))
  }

  private val qPercentilesApproxSql =
    """SELECT event_type, count(*) AS n,
              TRUE AS p50_rank_ok, TRUE AS p95_rank_ok, TRUE AS p99_rank_ok
       FROM events GROUP BY event_type"""

  /** Typed JSON props extraction (get_json_object ↔ json_extract) —
    * the structured twin of the regex path in qEventsProps. */
  def qEventsJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
      .groupBy((col("k") % 7).as("k_mod7"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4).as("sum_value"))

  private val qEventsJsonSql =
    """SELECT CAST(json_extract(props, '$.k') AS INT) % 7 AS k_mod7,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
       FROM events GROUP BY 1"""

  /** q_funnel: view → purchase conversion within 7 days of the FIRST view
    * — the sequential-funnel shape: per-user min over the entry event, a
    * conditional min over the follow event restricted to the window, one
    * global rollup. Two shuffles on user_id + one scalar aggregate; no
    * self-join of the event stream (the naive formulation). Micros
    * arithmetic keeps both engines integral; the median delay of
    * converters is exact-interpolated over a bounded converter set. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t_view"))
    val windowUs = 7L * 24 * 3600 * 1000000L
    val conv = ev.filter(col("event_type") === "purchase")
      .join(firstView, Seq("user_id"))
      .filter(col("us") > col("t_view") && col("us") <= col("t_view") + windowUs)
      .groupBy("user_id").agg(min(col("us") - col("t_view")).as("delay_us"))
    firstView.join(conv, Seq("user_id"), "left_outer")
      .agg(count(lit(1)).as("n_viewers"),
        count(col("delay_us")).as("n_converted"),
        round(count(col("delay_us")).cast("double") / count(lit(1)), 6).as("conv_rate"),
        round(expr("percentile(delay_us, 0.5)") / 1000000.0, 4).as("median_delay_sec"))
  }

  private val qFunnelSql =
    """WITH fv AS (
         SELECT user_id, min(epoch_us(ts)) AS t_view
         FROM events WHERE event_type = 'view' GROUP BY user_id),
       conv AS (
         SELECT e.user_id, min(epoch_us(e.ts) - fv.t_view) AS delay_us
         FROM events e JOIN fv ON e.user_id = fv.user_id
         WHERE e.event_type = 'purchase'
           AND epoch_us(e.ts) > fv.t_view
           AND epoch_us(e.ts) <= fv.t_view + CAST(604800000000 AS BIGINT)
         GROUP BY e.user_id)
       SELECT count(*) AS n_viewers,
         CAST(count(conv.delay_us) AS BIGINT) AS n_converted,
         round(CAST(count(conv.delay_us) AS DOUBLE) / count(*), 6) AS conv_rate,
         round(quantile_cont(conv.delay_us, 0.5) / 1000000.0, 4) AS median_delay_sec
       FROM fv LEFT JOIN conv ON fv.user_id = conv.user_id"""

  /** The strict step sequence of the multi-step funnel. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** q_funnel_steps: K-step STRICT-ORDER funnel (view → click → purchase,
    * each step within 7 days of the previous step's completion) — the
    * general form of q_funnel's 2-step shape, and the query every product
    * dashboard runs: a user advances to step k only after completing
    * step k−1, so a purchase without a preceding click does NOT count
    * (q_funnel would credit it). Each step is ONE conditional-min
    * equi-join against the previous step's per-user completion time —
    * K−1 chained user-keyed shuffles, never a self-join of the event
    * stream — and the rollup is a K-row relation: per step, the surviving
    * users, the step-over-step rate (lag over the K-row window — bounded)
    * and the overall rate vs step 1. Micros arithmetic keeps both engines
    * integral; NULL step_conv on step 1 (no previous step). */
  def qFunnelSteps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val windowUs = 7L * 24 * 3600 * 1000000L
    val first = ev.filter(col("event_type") === FunnelSteps.head)
      .groupBy("user_id").agg(min(col("us")).as("t"))
    val stages = FunnelSteps.tail.scanLeft(first) { (prev, step) =>
      ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("tp")), Seq("user_id"))
        .filter(col("us") > col("tp") && col("us") <= col("tp") + windowUs)
        .groupBy("user_id").agg(min(col("us")).as("t"))
    }
    val perStep = stages.zip(FunnelSteps).zipWithIndex.map {
      case ((df, step), i) =>
        df.select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("user_id"))
    }.reduce(_ unionByName _)
      .groupBy("step", "event_type").agg(count(lit(1)).as("n_users"))
    // K-row relation: the single-task global window is bounded by
    // construction (K = the declared step count, never data-sized)
    val w = Window.orderBy("step")
    perStep.select(col("step"), col("event_type"), col("n_users"),
      round(col("n_users").cast("double") / lag(col("n_users"), 1).over(w), 6)
        .as("step_conv"),
      round(col("n_users").cast("double") / first_value(col("n_users")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6)
        .as("overall_conv"))
  }

  private val qFunnelStepsSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       s1 AS (SELECT user_id, min(us) AS t FROM ev
              WHERE event_type = 'view' GROUP BY 1),
       s2 AS (SELECT e.user_id, min(e.us) AS t
              FROM ev e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.us > s1.t
                AND e.us <= s1.t + CAST(604800000000 AS BIGINT)
              GROUP BY 1),
       s3 AS (SELECT e.user_id, min(e.us) AS t
              FROM ev e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.us > s2.t
                AND e.us <= s2.t + CAST(604800000000 AS BIGINT)
              GROUP BY 1),
       n AS (SELECT 1 AS step, 'view' AS event_type,
               CAST(count(*) AS BIGINT) AS n_users FROM s1
             UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
             UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
       SELECT step, event_type, n_users,
         round(CAST(n_users AS DOUBLE)
           / lag(n_users) OVER (ORDER BY step), 6) AS step_conv,
         round(CAST(n_users AS DOUBLE)
           / first_value(n_users) OVER (ORDER BY step), 6) AS overall_conv
       FROM n"""

  /** Cohort retention: users grouped by first-seen day, distinct active
    * users per (cohort, day offset). Three shuffles — (user, day) distinct,
    * first-day agg, cohort rollup — all on bounded keys. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    val first = byDay.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    byDay.join(first, Seq("user_id"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private val qRetentionSql =
    """WITH bd AS (
         SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
       f AS (SELECT user_id, min(day) AS cohort_day FROM bd GROUP BY user_id)
       SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
         CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
         count(DISTINCT user_id) AS n_users
       FROM bd JOIN f USING (user_id) GROUP BY 1, 2"""

  /** q_asof_join: for each purchase, the user's most recent view at or
    * before the purchase instant — the AS-OF join Spark has no native
    * operator for. Implemented WITHOUT a join: tag both streams, union,
    * and carry the last view timestamp forward with one running window
    * per user (`last(..., ignoreNulls)` over ts, views sorting before
    * same-instant purchases). One shuffle on the key, no inequality join,
    * no per-probe scan — the shape that survives an arbitrarily long
    * history at 100 TB. Gap ties at equal timestamps are value-identical,
    * so the output is deterministic. Oracle: DuckDB's native ASOF JOIN. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("us").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("view_us",
        last(when(col("side") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        (col("us") - col("view_us")).as("gap_us"))
  }

  private val qAsofJoinSql =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
         ON p.user_id = v.user_id AND p.ts >= v.ts"""

  /** AS-OF join via the NATIVE whole-operator path (graft.plans.AsOfJoin:
    * custom LogicalPlan → Strategy → SparkPlan, one merge pass over
    * co-partitioned sorted children). Left-outer, rightTime <= leftTime,
    * latest candidate wins — exactly DuckDB's ASOF LEFT JOIN. Key/time
    * must be LongType on both sides. */
  def asofJoinNative(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String): DataFrame = {
    val spark = left.sparkSession
    // strategy is injected by GraftExtensions under GraftSession; register
    // late for sessions built without the extensions (tests, REPL)
    if (!spark.experimental.extraStrategies.exists(_ eq graft.plans.AsOfJoinStrategy) &&
        !spark.conf.getOption("spark.sql.extensions").exists(_.contains("GraftExtensions")))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def ref(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(sys.error(s"missing column $n"))
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp,
        ref(lp, leftKey), ref(lp, leftTime), ref(rp, rightKey), ref(rp, rightTime)))
  }

  /** q_asof_native: the same purchases-to-latest-view join as q_asof_join,
    * through the native operator instead of the union+window rewrite —
    * both hash-gate against the identical DuckDB ASOF JOIN oracle, which
    * proves operator/rewrite/oracle three-way agreement. */
  def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    asofJoinNative(purchases, views, "user_id", "p_us", "v_user", "v_us")
      .select(col("event_id"), col("user_id"),
        (col("p_us") - col("v_us")).as("gap_us"))
  }

  /** Range-join window width: 30 minutes, in microseconds. */
  val RangeJoinWindowUs = 1800L * 1000000L

  /** q_range_join: clicks per user in the 30 minutes before each purchase
    * — an interval join. The scalable plan buckets time by the window
    * width so every qualifying pair shares one of two (user, bucket) keys:
    * the inequality join becomes an EQUI-join with 2× probe fan-out plus
    * an exact range filter. No unbounded inequality join, no per-user
    * cross product — fan-out is bounded by per-bucket activity, which is
    * what a 100 TB event stream bounds by construction. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val W = RangeJoinWindowUs
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      .withColumn("bucket", floor(col("c_us") / W))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val probes = purchases.withColumn("bucket",
      explode(array(floor(col("p_us") / W), floor(col("p_us") / W) - 1)))
    val counts = probes.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") > col("p_us") - W && col("c_us") <= col("p_us"))
      .groupBy("event_id").agg(count(lit(1)).as("n_clicks"))
    purchases.select("event_id", "user_id")
      .join(counts, Seq("event_id"), "left_outer")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
  }

  private val qRangeJoinSql =
    s"""WITH p AS (
         SELECT event_id, user_id, epoch_us(ts) AS p_us
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, epoch_us(ts) AS c_us
         FROM events WHERE event_type = 'click'),
       j AS (
         SELECT p.event_id, count(*) AS n
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.c_us > p.p_us - $RangeJoinWindowUs AND c.c_us <= p.p_us
         GROUP BY p.event_id)
       SELECT p.event_id, p.user_id, CAST(coalesce(j.n, 0) AS BIGINT) AS n_clicks
       FROM p LEFT JOIN j USING (event_id)"""

  /** The closed event-type vocabulary (pivot columns). Passing explicit
    * values to pivot() skips the extra distinct-values pass — at scale the
    * column vocabulary must be known or bounded anyway. */
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** q_pivot: daily event counts pivoted to one column per event type —
    * the long-to-wide reshape. One groupBy(day) shuffle; the pivot is a
    * conditional aggregate per type, no join, no second pass. */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("day") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)

  private val qPivotSql = {
    val cols = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      .mkString(", ")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day, $cols
       FROM events GROUP BY 1"""
  }

  /** q_anomaly: z-score outlier days per event type over daily value
    * totals. Determinism discipline: daily totals and their squares are
    * summed as exact DECIMALs (double summation is order-dependent —
    * never hash-gate it), then mean/variance/z are double arithmetic over
    * those exactly-equal inputs; sqrt is IEEE-correctly-rounded in both
    * engines. Two bounded shuffles (event_type×day, then event_type). */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day").agg(sum(col("v")).as("tot"))
    val stats = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("tot")).cast("double").as("s"),
        sum(col("tot") * col("tot")).cast("double").as("ss"))
      .filter(col("n") >= 2)
    daily.join(stats, Seq("event_type"))
      .select(col("event_type"), col("day"), col("tot").cast("double").as("totd"),
        ((col("tot").cast("double") - col("s") / col("n")) /
          sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))).as("z"))
      .filter(abs(col("z")) >= lit(2.0))
      .select(col("event_type"), col("day"), col("totd").as("tot"),
        (floor(col("z") * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("z"))
  }

  private val qAnomalySql =
    """WITH daily AS (
         SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           sum(CAST(value AS DECIMAL(18,6))) AS tot
         FROM events GROUP BY 1, 2),
       st AS (
         SELECT event_type, count(*) AS n,
           CAST(sum(tot) AS DOUBLE) AS s,
           CAST(sum(tot * tot) AS DOUBLE) AS ss
         FROM daily GROUP BY 1 HAVING count(*) >= 2)
       SELECT d.event_type, d.day, CAST(d.tot AS DOUBLE) AS tot,
         floor(((CAST(d.tot AS DOUBLE) - s / n) / sqrt((ss - s * s / n) / (n - 1)))
           * 1000000.0 + 0.5) / 1000000.0 AS z
       FROM daily d JOIN st USING (event_type)
       WHERE abs((CAST(d.tot AS DOUBLE) - s / n) / sqrt((ss - s * s / n) / (n - 1))) >= 2.0"""

  /** q_ntile: customer spend deciles — exact global ntile WITHOUT the
    * single-partition window (`Window.orderBy` with no partition key is
    * the canonical scale-killer): range-repartition parallel sort +
    * per-partition offsets assign the global row number (functions.Ranks),
    * then the SQL ntile bucket rule is a pure expression over (rn, N).
    * Decimal-exact spend totals; the oracle uses the builtin ntile. */
  def qNtile(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
    val ranked = graft.functions.Ranks.globalRowNumber(
      totals, col("total").desc, col("o_custkey").asc)
    ranked
      .crossJoin(broadcast(totals.agg(count(lit(1)).as("N"))))
      .withColumn("decile", graft.functions.Ranks.ntileOf(col("rn"), col("N"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        max(col("total")).cast("double").as("top_total"),
        sum(col("total")).cast("double").as("sum_total"))
  }

  private val qNtileSql =
    """WITH t AS (
         SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
         FROM orders GROUP BY o_custkey),
       r AS (
         SELECT o_custkey, total,
           ntile(10) OVER (ORDER BY total DESC, o_custkey ASC) AS decile
         FROM t)
       SELECT decile, count(*) AS n_customers,
         CAST(max(total) AS DOUBLE) AS top_total,
         CAST(sum(total) AS DOUBLE) AS sum_total
       FROM r GROUP BY decile"""

  /** q_ntile_approx: the SCALE PATH for decile bucketing — GK-sketch
    * decile thresholds (one bounded-memory aggregate, broadcast back)
    * instead of [[qNtile]]'s exact global ranking. Rank error is the ε
    * trade; the exact twin stays the small-scale oracle cross-check,
    * mirroring the q_percentiles / q_percentiles_approx pairing.
    * Rows-only (sketch-dependent); the spec bounds bucket-size skew. */
  def qNtileApprox(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    val cuts = totals.agg(expr(
      "approx_percentile(total, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)")
      .as("cuts"))
    totals.crossJoin(broadcast(cuts))
      // decile 1 = highest spend, matching the exact twin's DESC ranking
      .select(col("o_custkey"), col("total"),
        (size(filter(col("cuts"), c => col("total") <= c)) + 1).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("total").cast("decimal(18,2)")).cast("double"), 2).as("sum_total"))
  }

  /** q_ntile_approx (registered, HASH-GATED form): the sketch-bucketed
    * deciles' size guarantee as booleans — every decile within 2%+2 of
    * n/10 (the GK bound at accuracy 10000 is far tighter; the slack
    * absorbs small-SF tie effects while still failing on a broken
    * sketch), plus the partition total which hash-gates the data. */
  def qNtileApproxGate(s: SparkSession, dir: String): DataFrame = {
    val buckets = qNtileApprox(s, dir)
    val total = buckets.agg(sum(col("n_customers")).as("n_total"))
    buckets.crossJoin(broadcast(total))
      .select(col("decile"),
        (abs(col("n_customers") - col("n_total") / 10.0) <=
          col("n_total") * 0.02 + 2).as("size_ok"),
        col("n_total"))
  }

  private val qNtileApproxSql =
    """SELECT unnest(generate_series(1, 10)) AS decile, TRUE AS size_ok,
              (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_total"""

  /** q_compact: CDC latest-record-wins compaction — the upsert-view shape:
    * one row per (user_id, event_type) key, the newest event by (ts,
    * event_id) wins. One shuffle on the key; at scale this is the
    * compaction pass a merge-on-read table format runs continuously. */
  def qCompact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
  }

  private val qCompactSql =
    """SELECT user_id, event_type, event_id, epoch_us(ts) AS us, value
       FROM (SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rk
             FROM events)
       WHERE rk = 1"""

  /** q_merge_upsert: batch MERGE INTO — the write-side upsert every table
    * format (Delta/Iceberg/Hudi) runs under the hood, minus the file
    * rewrite: ONE co-partitioned full-outer join between the target and
    * the change feed, with per-row action classification
    * (matched → update, source-only → insert, target-only → keep). The
    * change feed here derives deterministically from the target itself
    * (every 3rd key's balance bumped = updates, every 5th key mirrored
    * negative = inserts) so the oracle can rebuild it. At scale the source
    * is usually a small CDC batch — AQE broadcasts it and the merge is
    * shuffle-free; a corpus-proportional source degrades to the one
    * key-partitioned shuffle this query exercises. Money stays
    * decimal-exact through the merge; the final cast-to-double is a
    * round() over exactly-equal decimals. */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    val updates = t.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("bal") + lit(new java.math.BigDecimal("10.00"))).as("bal"))
    // key 0 is its own negation — excluded so the change feed stays
    // key-unique (a MERGE source with duplicate keys is ill-formed)
    val inserts = t.filter(col("c_custkey") % 5 === 0 && col("c_custkey") =!= 0)
      .select((-col("c_custkey")).as("c_custkey"),
        concat(lit("NEW "), col("c_name")).as("c_name"), col("bal"))
    val src = updates.unionByName(inserts)
    t.select(col("c_custkey"), struct(col("c_name"), col("bal")).as("t"))
      .join(src.select(col("c_custkey"), struct(col("c_name"), col("bal")).as("s")),
        Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        coalesce(col("s.c_name"), col("t.c_name")).as("c_name"),
        round(coalesce(col("s.bal"), col("t.bal")).cast("double"), 2).as("c_acctbal"),
        when(col("t").isNull, "insert")
          .when(col("s").isNull, "keep").otherwise("update").as("action"))
  }

  /** q_merge_files: q_merge_upsert run THROUGH the copy-on-write table
    * format (sources.CowTable) instead of as a pure join — the file
    * rewrite + snapshot commit half the §2 row 35l3 scaladoc deferred
    * (r19 verdict task 1). The query drives the full production write
    * path end-to-end and is gated on the SAME oracle as q_merge_upsert:
    *
    *  1. the customer projection becomes a hash-bucketed table
    *     (8 buckets, snapshot v1);
    *  2. the identical deterministic change feed MERGEs in (touched
    *     buckets' files rewritten, untouched carried by reference,
    *     manifest v2 committed by atomic rename);
    *  3. the SAME batch id merges AGAIN — the replay must be a no-op
    *     (idempotence is exercised on the gated path, not only in the
    *     spec: a third snapshot would double-apply the +10 bump and the
    *     hash gate would catch it);
    *  4. the result reads the post-merge snapshot and classifies each
    *     row's action by TIME-TRAVELING to v1 (absent → insert, payload
    *     moved → update, identical → keep) — so the gate covers the
    *     snapshot-isolation read too.
    *
    * Everything the format does (bucket pruning, rewrite scope, commit
    * atomicity ordering) is pinned structurally in CowTableSpec; this
    * query pins the END RESULT byte-equal to the logical MERGE. */
  /** Per-invocation temp roots of the CowTable fixture queries, tracked
    * so each call best-effort deletes its predecessor's table — bench
    * reps and repeated verify runs would otherwise leak one full table
    * copy per invocation into the temp filesystem. */
  private val cowRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the shared create→MERGE→replay fixture (the q_merge_upsert
    * change feed driven through the table format) at a fresh temp root;
    * returns the root with snapshot v1 = the customer projection and
    * v2 = the merged table. ONE definition for both gated consumers so
    * the fixtures can never silently desynchronize. */
  private def cowMergeFixture(s: SparkSession, dir: String,
      tag: String): String = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-cow-$tag").toString
    Option(cowRoots.put(s"$tag:$dir", root)).foreach { prev =>
      try new scala.reflect.io.Directory(new java.io.File(prev))
        .deleteRecursively(): Unit
      catch { case _: Exception => () }
    }
    val t = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("decimal(12,2)").as("bal"))
    graft.sources.CowTable.create(t, root, "c_custkey", nBuckets = 8)
    val updates = t.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("bal") + lit(new java.math.BigDecimal("10.00"))).as("bal"))
    val inserts = t.filter(col("c_custkey") % 5 === 0 && col("c_custkey") =!= 0)
      .select((-col("c_custkey")).as("c_custkey"),
        concat(lit("NEW "), col("c_name")).as("c_name"), col("bal"))
    val src = updates.unionByName(inserts)
    val applied = graft.sources.CowTable.merge(s, root, src, batchId = "b1")
    val replay = graft.sources.CowTable.merge(s, root, src, batchId = "b1")
    require(applied && !replay, "merge must apply once and replay as no-op")
    root
  }

  def qMergeFiles(s: SparkSession, dir: String): DataFrame = {
    val root = cowMergeFixture(s, dir, "merge")
    val v1 = graft.sources.CowTable.readVersion(s, root, 1)
      .select(col("c_custkey"),
        struct(col("c_name"), col("bal")).as("old"))
    graft.sources.CowTable.read(s, root)
      .select(col("c_custkey"),
        struct(col("c_name"), col("bal")).as("cur"))
      .join(v1, Seq("c_custkey"), "left_outer")
      .select(col("c_custkey"), col("cur.c_name").as("c_name"),
        round(col("cur.bal").cast("double"), 2).as("c_acctbal"),
        when(col("old").isNull, "insert")
          .when(col("cur") === col("old"), "keep")
          .otherwise("update").as("action"))
  }

  /** q_merge_cdf: the table format's CHANGE DATA FEED gated end-to-end —
    * the same create→MERGE fixture as q_merge_files, but the result is
    * CowTable.changes(v1, v2): the row-level diff downstream
    * incrementals subscribe to instead of re-diffing whole tables.
    * Copy-on-write prunes it by construction (only buckets whose file
    * lists differ between the snapshots are read — rewrite-bounded,
    * never table-sized), and byte-identical rewritten rows are filtered
    * out, so the feed is exactly the logical MERGE's insert/update rows:
    * the oracle is qMergeUpsertSql minus its 'keep' rows. */
  def qMergeCdf(s: SparkSession, dir: String): DataFrame = {
    val root = cowMergeFixture(s, dir, "cdf")
    graft.sources.CowTable.changes(s, root, 1, 2)
      .select(col("c_custkey"), col("c_name"),
        round(col("bal").cast("double"), 2).as("c_acctbal"),
        col("change"))
  }

  private lazy val qMergeCdfSql =
    s"""SELECT c_custkey, c_name, c_acctbal, action AS change
       FROM ($qMergeUpsertSql) WHERE action <> 'keep'"""

  private val qMergeUpsertSql =
    """WITH t AS (
         SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
         FROM customer),
       u AS (
         SELECT c_custkey, c_name, bal + CAST(10.00 AS DECIMAL(4,2)) AS bal
         FROM t WHERE c_custkey % 3 = 0),
       i AS (
         SELECT -c_custkey AS c_custkey, 'NEW ' || c_name AS c_name, bal
         FROM t WHERE c_custkey % 5 = 0 AND c_custkey <> 0),
       s AS (SELECT * FROM u UNION ALL SELECT * FROM i)
       SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
         coalesce(s.c_name, t.c_name) AS c_name,
         round(CAST(coalesce(s.bal, t.bal) AS DOUBLE), 2) AS c_acctbal,
         CASE WHEN t.c_custkey IS NULL THEN 'insert'
              WHEN s.c_custkey IS NULL THEN 'keep'
              ELSE 'update' END AS action
       FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey"""

  /** Hop (12h) and width (24h) of the sliding event window, in µs. */
  val HopUs = 12L * 3600 * 1000000L
  val HopWindowUs = 2 * HopUs

  /** q_events_hop: sliding (hopping) window aggregation — 24-hour windows
    * every 12 hours. Each event lands in exactly width/hop = 2 windows,
    * expanded INLINE (the same bounded fan-out trick as the range join) and
    * aggregated in one shuffle; no per-window scan, no self-join. The
    * batch twin of `window(ts, '1 day', '12 hours')`, kept in µs
    * arithmetic so both engines stay integral. */
  def qEventsHop(s: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val w0 = floor(us / HopUs).cast("long") * HopUs
    Tables.events(s, dir)
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"),
        explode(array(w0, w0 - HopUs)).as("w_start"))
      .groupBy("w_start", "event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("v")).cast("double"), 4).as("sum_value"))
  }

  private val qEventsHopSql =
    s"""WITH e AS (
         SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
           (epoch_us(ts) // $HopUs) * $HopUs AS w0, epoch_us(ts) AS us
         FROM events)
       SELECT w_start, event_type, count(*) AS n,
         round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
       FROM (SELECT event_type, v, unnest([w0, w0 - $HopUs]) AS w_start FROM e)
       GROUP BY w_start, event_type"""

  /** q_gapfill: dense daily series per event type — generate the full
    * (type × day) grid from the observed date bounds and left-join the
    * sparse daily aggregate onto it, zero-filling gaps. The grid is a
    * bounded broadcast (types × days, never corpus-proportional); the
    * dense output is what window/forecast consumers downstream require.
    * Decimal-exact daily sums, zero-filled identically in both engines. */
  def qGapfill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("sv").cast("double"), lit(0.0)), 4).as("sum_value"))
  }

  private val qGapfillSql =
    """WITH daily AS (
         SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS n, sum(CAST(value AS DECIMAL(18,6))) AS sv
         FROM events GROUP BY 1, 2),
       b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
       grid AS (
         SELECT t.event_type, CAST(g.day AS DATE) AS day
         FROM (SELECT DISTINCT event_type FROM daily) t
         CROSS JOIN b
         CROSS JOIN unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS g(day))
       SELECT grid.event_type, strftime(grid.day, '%Y-%m-%d') AS day,
         CAST(coalesce(daily.n, 0) AS BIGINT) AS n,
         round(coalesce(CAST(daily.sv AS DOUBLE), 0.0), 4) AS sum_value
       FROM grid LEFT JOIN daily
         ON grid.event_type = daily.event_type AND grid.day = daily.day"""

  /** q_topk: exact top-3 events by value per event type via the typed
    * [[graft.functions.TopKAggregator]] — O(k) aggregation state with
    * map-side combining instead of a window's per-group sort; the oracle
    * is the row_number formulation it replaces. Deterministic total order
    * (value desc, event_id asc). */
  def qTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = graft.functions.TopKAggregator(3).toColumn
    Tables.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.name("top"))
      .flatMap { case (t, items) =>
        items.zipWithIndex.map { case ((v, id), i) => (t, id, v, i + 1) } }
      .toDF("event_type", "event_id", "value", "rank")
  }

  private val qTopkSql =
    """SELECT event_type, event_id, value, CAST(rk AS INT) AS rank
       FROM (SELECT event_type, event_id, value, row_number() OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rk
             FROM events)
       WHERE rk <= 3"""

  /** Anti join: customers with no order since 2001-01-01 (lapsed
    * customers). Every driver-corpus customer has some order, so the
    * classic "never ordered" anti-join is structurally 0-row; filtering
    * the build side to recent orders keeps the left_anti shape and
    * returns real rows (615 at sf0.01). */
  def qAntijoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select("c_custkey", "c_name")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")

  private val qAntijoinSql =
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2001-01-01')"""

  /** Gap-based sessionization (30-min inactivity): one shuffle on user_id,
    * two stacked windows. Micros arithmetic keeps both engines integral. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
  }

  private val qSessionizeSql =
    """WITH t AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_us,
           ts
         FROM events),
       f AS (
         SELECT user_id, event_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess,
           ts
         FROM t),
       g AS (
         SELECT user_id, us,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM f)
       SELECT user_id, session_id, count(*) AS n_events,
         max(us) - min(us) AS duration_us
       FROM g GROUP BY user_id, session_id"""

  /** q_session_stats: the per-day session dashboard rollup over the
    * gap-sessionized stream (the numbers a product team actually reads
    * off 35m's sessionization: traffic, engagement, bounce): sessions
    * keyed to the day they START, per day the session count, bounce rate
    * (single-event sessions), mean session depth and the exact
    * interpolated median duration (the q_funnel percentile idiom —
    * day-bounded session sets, never corpus-sized). Same two-window
    * micros-integral session construction as q_sessionize; one extra
    * calendar-bounded rollup. */
  def qSessionStats(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        min(col("ts")).as("t_start"))
    sess.groupBy(date_format(col("t_start"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("bounce_rate"),
        round(sum(col("n_events")).cast("double") / count(lit(1)), 6)
          .as("avg_depth"),
        round(expr("percentile(duration_us, 0.5)") / 1000000.0, 4)
          .as("median_duration_sec"))
  }

  private val qSessionStatsSql =
    """WITH t AS (
         SELECT user_id, event_id, ts, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC) AS prev_us
         FROM events),
       f AS (
         SELECT user_id, event_id, ts, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
             THEN 1 ELSE 0 END AS new_sess
         FROM t),
       g AS (
         SELECT user_id, ts, us,
           CAST(sum(new_sess) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id
         FROM f),
       sess AS (
         SELECT user_id, session_id, count(*) AS n_events,
           max(us) - min(us) AS duration_us, min(ts) AS t_start
         FROM g GROUP BY 1, 2)
       SELECT strftime(t_start, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounce,
         round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 6) AS bounce_rate,
         round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_depth,
         round(quantile_cont(duration_us, 0.5) / 1000000.0, 4)
           AS median_duration_sec
       FROM sess GROUP BY 1"""

  /** q_skyline: 2-D skyline (Pareto frontier) over parts — minimize
    * retail price, maximize size; a point survives iff nothing is both
    * cheaper-or-equal and bigger-or-equal with one strict. The naive
    * formulation is the O(n²) NOT-EXISTS anti-join the ORACLE runs; the
    * Spark plan is the sort-based linear identity instead: group to
    * distinct prices (bounded ≪ rows), a DISTRIBUTED exclusive prefix max
    * over prices for the running size maxima (Ranks.globalPrefixMax —
    * range-partitioned, never the one-task global Window.orderBy), and a
    * point is on the skyline iff its size beats every strictly-cheaper
    * price's max and ties its own price's max. One prefix-max pass + one
    * equi-join back — no self-join anywhere, which is the only shape that
    * survives 100 TB. Exact duplicates of a frontier point are all kept
    * (neither strictly dominates), matching the oracle's strict-dominance
    * clause. */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice").as("price"), col("p_size").as("size"))
    val perPrice = graft.functions.Ranks.globalPrefixMax(
        pts.groupBy("price").agg(max(col("size")).cast("long").as("ms")),
        "ms", col("price").asc)
      .withColumn("run_excl", col("max_before"))
      .withColumn("run_incl", greatest(col("ms"), col("max_before")))
    pts.join(perPrice.select("price", "run_incl", "run_excl"), Seq("price"))
      .filter(col("size") >= col("run_incl") &&
        (col("run_excl").isNull || col("size") > col("run_excl")))
      .select(col("p_partkey"), col("price"), col("size"))
  }

  private val qSkylineSql =
    """SELECT a.p_partkey, a.p_retailprice AS price, a.p_size AS size
       FROM part a WHERE NOT EXISTS (
         SELECT 1 FROM part b
         WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
           AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))"""

  /** q_growth_accounting: the full growth-accounting decomposition of
    * daily active users (the panel 68u's new-vs-returning split opens:
    * every active user-day is EXACTLY one of new / retained (active the
    * previous calendar day) / resurrected (returning after a gap), and
    * yesterday's actives split into retained + churned — so two
    * conservation identities hold by construction:
    * dau = n_new + n_retained + n_resurrected and
    * dau_prev = n_retained + n_churned (the spec asserts both, the
    * second being the definition of churn). One (user, day) distinct +
    * one user-keyed lag() window + a day-bounded rollup joined to its
    * own lag — nothing outgrows the calendar. */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val classed = byDay
      .withColumn("prev", lag(col("day"), 1).over(w))
      .select(col("day"),
        when(col("prev").isNull, "new")
          .when(datediff(col("day"), col("prev")) === 1, "retained")
          .otherwise("resurrected").as("cls"))
    val daily = classed.groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val wd = Window.orderBy(col("day").asc) // day-bounded: one row per day
    daily
      .withColumn("dau_prev", lag(col("dau"), 1).over(wd))
      .withColumn("prev_day", lag(col("day"), 1).over(wd))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("n_new"), col("n_retained"), col("n_resurrected"),
        // churn only defined vs a CONSECUTIVE previous day
        when(datediff(col("day"), col("prev_day")) === 1,
          col("dau_prev") - col("n_retained")).as("n_churned"),
        round(when(datediff(col("day"), col("prev_day")) === 1,
          col("n_retained").cast("double") / col("dau_prev").cast("double")),
          6).as("retention_rate"))
  }

  private val qGrowthAccountingSql =
    """WITH bd AS (SELECT DISTINCT user_id,
           CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
       cl AS (SELECT day,
           CASE WHEN prev IS NULL THEN 'new'
                WHEN date_diff('day', prev, day) = 1 THEN 'retained'
                ELSE 'resurrected' END AS cls
         FROM (SELECT day, lag(day) OVER (PARTITION BY user_id
                                          ORDER BY day ASC) AS prev
               FROM bd)),
       daily AS (SELECT day, CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected
         FROM cl GROUP BY day),
       lagged AS (SELECT *, lag(dau) OVER (ORDER BY day ASC) AS dau_prev,
           lag(day) OVER (ORDER BY day ASC) AS prev_day FROM daily)
       SELECT strftime(day, '%Y-%m-%d') AS day, dau, n_new, n_retained,
         n_resurrected,
         CASE WHEN date_diff('day', prev_day, day) = 1
           THEN dau_prev - n_retained ELSE NULL END AS n_churned,
         round(CASE WHEN date_diff('day', prev_day, day) = 1
           THEN CAST(n_retained AS DOUBLE) / CAST(dau_prev AS DOUBLE)
           ELSE NULL END, 6) AS retention_rate
       FROM lagged"""

  /** Path length (consecutive event types per step) and head size of
    * [[qPaths]]. */
  val PathLen = 3
  val PathTopK = 20

  /** q_paths: top user-journey paths — the [[PathLen]]-step consecutive
    * event-type sequences inside a session (same 30-min-gap sessionize
    * as q_sessionize), ranked by frequency with their corpus share (the
    * product-analytics "path analysis" panel beside 53b's Markov matrix,
    * which models single transitions — this surfaces whole journeys).
    * One user-keyed window pass assigns sessions AND reads the two
    * lead() types; the rollup is bounded by |event types|^len, the head
    * a TakeOrderedAndProject. Share is one division of exact integers. */
  def qPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySess = Window.partitionBy("user_id", "session_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val tri = sess
      .withColumn("e2", lead(col("event_type"), 1).over(bySess))
      .withColumn("e3", lead(col("event_type"), 2).over(bySess))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
    val tot = tri.agg(sum(col("n")).as("n_total"))
    tri.crossJoin(broadcast(tot))
      .select(col("e1"), col("e2"), col("e3"), col("n"),
        round(col("n").cast("double") / col("n_total").cast("double"), 6)
          .as("share"))
      .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
      .limit(PathTopK)
  }

  private val qPathsSql =
    s"""WITH t AS (
         SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev_us
         FROM events),
       se AS (SELECT user_id, event_id, ts, event_type, us,
           sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
         FROM t),
       tri AS (SELECT event_type AS e1,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
         FROM se
         WINDOW w AS (PARTITION BY user_id, session_id
                      ORDER BY us ASC, event_id ASC)),
       pc AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
              FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
              GROUP BY 1, 2, 3),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM pc)
       SELECT e1, e2, e3, n,
         round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share
       FROM pc CROSS JOIN tot
       ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC
       LIMIT $PathTopK"""

  /** q_streaks: longest consecutive-day activity streak per user, rolled
    * up into the engagement streak-length distribution (the classic
    * gaps-and-islands shape every growth dashboard carries). Islands via
    * the day_num − row_number() constant; BOTH the ranking window and the
    * island aggregation are keyed by user, so the pipeline is one
    * user-keyed shuffle, a per-user max, and a bounded streak-length
    * rollup — no unkeyed windows, no self-joins, no inequality joins, the
    * shape that survives an arbitrarily long history at 100 TB. Share is
    * one division of exact integers, rounded on output. */
  def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val byDay = Tables.events(s, dir)
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("1970-01-01").cast("date")).as("day_num"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("day_num").asc)
    val best = byDay
      .withColumn("island", col("day_num") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("streak_days"))
    val total = best.agg(count(lit(1)).as("n_total"))
    best.groupBy("streak_days")
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("streak_days"), col("n_users"),
        round(col("n_users").cast("double") / col("n_total").cast("double"),
          6).as("share"))
  }

  private val qStreaksSql =
    """WITH bd AS (SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01',
             CAST(date_trunc('day', ts) AS DATE)) AS day_num
         FROM events),
       isl AS (SELECT user_id,
           day_num - row_number() OVER (PARTITION BY user_id
                                        ORDER BY day_num) AS island
         FROM bd),
       st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
              FROM isl GROUP BY user_id, island),
       best AS (SELECT user_id, max(len) AS streak_days
                FROM st GROUP BY user_id),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM best)
       SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users,
         round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
       FROM best CROSS JOIN tot GROUP BY streak_days, n_total"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skyline" -> (qSkyline _),
    "q1_agg" -> (q1Agg _),
    "q6_agg" -> (q6Agg _),
    "q18_having" -> (q18Having _),
    "q3_join" -> (q3Join _),
    "q5_join" -> (q5Join _),
    "q_window" -> (qWindow _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_setops" -> (qSetops _),
    "q_moving_avg" -> (qMovingAvg _),
    "q_events_window" -> (qEventsWindow _),
    "q_events_props" -> (qEventsProps _),
    "q_antijoin" -> (qAntijoin _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_native" -> (qAsofNative _),
    "q_range_join" -> (qRangeJoin _),
    "q_pivot" -> (qPivot _),
    "q_anomaly" -> (qAnomaly _),
    "q_ntile" -> (qNtile _),
    "q_ntile_approx" -> (qNtileApproxGate _),
    "q_compact" -> (qCompact _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_merge_files" -> (qMergeFiles _),
    "q_merge_cdf" -> (qMergeCdf _),
    "q_scd2" -> (qScd2 _),
    "q_wau" -> (qWau _),
    "q_events_hop" -> (qEventsHop _),
    "q_gapfill" -> (qGapfill _),
    "q_topk" -> (qTopk _),
    "q_sessionize" -> (qSessionize _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_rollup" -> (qRollup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_range_frame" -> (qRangeFrame _),
    "q_cube" -> (qCube _),
    "q_copurchase" -> (qCopurchase _),
    "q_hits" -> (qHits _),
    "q_unpivot" -> (qUnpivot _),
    "q_percentiles" -> (qPercentiles _),
    "q_percentiles_approx" -> (qPercentilesApproxGate _),
    "q_events_json" -> (qEventsJson _),
    "q_retention" -> (qRetention _),
    "q_funnel" -> (qFunnel _),
    "q_funnel_steps" -> (qFunnelSteps _),
    "q_session_stats" -> (qSessionStats _),
    "q_item_sim" -> (qItemSim _),
    "q_link_pred" -> (qLinkPred _),
    "q_connected_components" -> (qConnectedComponents _),
    "q_cc_incremental" -> (qCcIncremental _),
    "q_concurrency" -> (qConcurrency _),
    "q_abc" -> (qAbc _),
    "q_new_vs_returning" -> (qNewVsReturning _),
    "q_funnel_time" -> (qFunnelTime _),
    "q_rfm" -> (qRfm _),
    "q_cohort_revenue" -> (qCohortRevenue _),
    "q_streaks" -> (qStreaks _),
    "q_paths" -> (qPaths _),
    "q_growth_accounting" -> (qGrowthAccounting _),
    "q_setops_bag" -> (qSetopsBag _),
    "q_audience_overlap" -> (qAudienceOverlap _),
    "q_pattern_match" -> (qPatternMatch _))

  override def oracles: Map[String, String] = Map(
    "q_percentiles_approx" -> qPercentilesApproxSql,
    "q_ntile_approx" -> qNtileApproxSql,
    "q1_agg" -> q1Sql,
    "q6_agg" -> q6Sql,
    "q18_having" -> q18Sql,
    "q3_join" -> q3Sql,
    "q5_join" -> q5Sql,
    "q_skyline" -> qSkylineSql,
    "q_window" -> qWindowSql,
    "q_window_funcs" -> qWindowFuncsSql,
    "q_setops" -> qSetopsSql,
    "q_moving_avg" -> qMovingAvgSql,
    "q_events_window" -> qEventsWindowSql,
    "q_events_props" -> qEventsPropsSql,
    "q_antijoin" -> qAntijoinSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_asof_native" -> qAsofJoinSql,
    "q_range_join" -> qRangeJoinSql,
    "q_pivot" -> qPivotSql,
    "q_anomaly" -> qAnomalySql,
    "q_ntile" -> qNtileSql,
    "q_compact" -> qCompactSql,
    "q_merge_upsert" -> qMergeUpsertSql,
    "q_merge_files" -> qMergeUpsertSql,
    "q_merge_cdf" -> qMergeCdfSql,
    "q_scd2" -> qScd2Sql,
    "q_wau" -> qWauSql,
    "q_events_hop" -> qEventsHopSql,
    "q_gapfill" -> qGapfillSql,
    "q_topk" -> qTopkSql,
    "q_sessionize" -> qSessionizeSql,
    "q_salted_join" -> qSaltedJoinSql,
    "q_rollup" -> qRollupSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_range_frame" -> qRangeFrameSql,
    "q_cube" -> qCubeSql,
    "q_copurchase" -> qCopurchaseSql,
    "q_hits" -> qHitsSql,
    "q_unpivot" -> qUnpivotSql,
    "q_percentiles" -> qPercentilesSql,
    "q_events_json" -> qEventsJsonSql,
    "q_retention" -> qRetentionSql,
    "q_funnel" -> qFunnelSql,
    "q_funnel_steps" -> qFunnelStepsSql,
    "q_session_stats" -> qSessionStatsSql,
    "q_item_sim" -> qItemSimSql,
    "q_link_pred" -> qLinkPredSql,
    "q_connected_components" -> qConnectedComponentsSql,
    "q_cc_incremental" -> qConnectedComponentsSql, // the full-recompute closure IS the gate
    "q_concurrency" -> qConcurrencySql,
    "q_abc" -> qAbcSql,
    "q_new_vs_returning" -> qNewVsReturningSql,
    "q_funnel_time" -> qFunnelTimeSql,
    "q_rfm" -> qRfmSql,
    "q_cohort_revenue" -> qCohortRevenueSql,
    "q_streaks" -> qStreaksSql,
    "q_paths" -> qPathsSql,
    "q_growth_accounting" -> qGrowthAccountingSql,
    "q_setops_bag" -> qSetopsBagSql,
    "q_audience_overlap" -> qAudienceOverlapSql,
    "q_pattern_match" -> qPatternMatchSql)
}
