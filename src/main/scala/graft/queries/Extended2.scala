package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.Tables.dec
import graft.registry.Q

/** Second extended-coverage batch: exact statistical aggregates,
  * distribution windows (ntile/percent_rank/cume_dist), filtered and
  * boolean aggregates, array analytics, histogram bucketing, unpivot,
  * and an interval (equi + time-range) self-join.
  *
  * Determinism notes on top of Relational's rules:
  *  - variance/correlation are NOT computed with the engines'
  *    streaming aggregates (partition-order-dependent double sums) but
  *    from EXACT decimal sums via the textbook formulas, evaluated with
  *    the identical expression tree on both engines;
  *  - sqrt is IEEE-754 correctly rounded on both engines (safe, unlike
  *    exp/ln whose libm implementations may differ in the last ulp);
  *  - FILTER'd sums are coalesced so no numeric output column is NULL.
  */
object Extended2 {

  /** Exact one-pass sufficient statistics: n, Sx, Sxx, Sxy... as decimal
    * sums, then variance / stddev / correlation by identical formulas. */
  val statsAgg: Q = Q(
    "x_stats_agg",
    Some("""WITH s AS (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, n,
           |  round((sxx - sx*sx/n) / (n - 1), 6) AS var_qty,
           |  round(sqrt((sxx - sx*sx/n) / (n - 1)), 6) AS std_qty,
           |  round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price
           |FROM s ORDER BY l_returnflag""".stripMargin),
    (s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val base = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
          sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
      base.select(
        col("l_returnflag"), col("n"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 6)
          .as("var_qty"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
          .as("std_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    })

  /** Distribution windows: quartile, percent_rank, cume_dist over a
    * tie-free total order. */
  val ntileDist: Q = Q(
    "w_ntile_dist",
    Some("""SELECT s_suppkey,
           |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           |  round(percent_rank() OVER w, 6) AS pr,
           |  round(cume_dist() OVER w, 6) AS cd
           |FROM supplier WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
           |ORDER BY s_suppkey""".stripMargin),
    (s, d) => {
      val w = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("s_suppkey"))
    })

  /** Array analytics over the embedding vectors: argmax/argmin position
    * (float equality on identical bits), extrema, count above the mean
    * (left-fold mean, same fold both engines). */
  val arrayFuncs2: Q = Q(
    "x_array_funcs2",
    Some("""SELECT vec_id,
           |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos,
           |  CAST(list_position(embedding, list_min(embedding)) AS BIGINT) AS argmin_pos,
           |  CAST(list_max(embedding) AS DOUBLE) AS vmax,
           |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
           |  CAST(len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)),
           |    x -> x > list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding))) AS BIGINT) AS n_above_mean
           |FROM embeddings ORDER BY vec_id""".stripMargin),
    (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("vd", transform(col("embedding"), x => x.cast("double")))
        .withColumn("mean",
          aggregate(col("vd"), lit(0.0), (acc, x) => acc + x) / size(col("embedding")))
        .select(
          col("vec_id"),
          array_position(col("embedding"), array_max(col("embedding")))
            .cast(LongType).as("argmax_pos"),
          array_position(col("embedding"), array_min(col("embedding")))
            .cast(LongType).as("argmin_pos"),
          array_max(col("embedding")).cast("double").as("vmax"),
          array_min(col("embedding")).cast("double").as("vmin"),
          size(filter(col("vd"), x => x > col("mean"))).cast(LongType).as("n_above_mean"))
        .orderBy(col("vec_id")))

  /** FILTER'd + boolean aggregates (count_if family). */
  val filteredAgg: Q = Q(
    "x_filtered_agg",
    Some("""SELECT l_returnflag,
           |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
           |  bool_and(l_extendedprice > 0) AS all_pos,
           |  bool_or(l_discount > 0.05) AS any_disc,
           |  CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_discount = 0),
           |    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS qty_nodisc
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_quantity") > 25).as("n_big"),
          bool_and(col("l_extendedprice") > 0).as("all_pos"),
          bool_or(col("l_discount") > 0.05).as("any_disc"),
          coalesce(sum(when(col("l_discount") === 0, dec(col("l_quantity")))),
            lit(0).cast("decimal(18,2)")).cast("double").as("qty_nodisc"))
        .orderBy(col("l_returnflag")))

  /** Histogram via width_bucket on integer input (exact boundaries).
    * DuckDB has no width_bucket — the oracle states the equivalent
    * integer arithmetic for these equal-width int buckets. */
  val widthBucketHist: Q = Q(
    "x_width_bucket_hist",
    Some("""SELECT CAST(c_nationkey // 5 + 1 AS BIGINT) AS bucket,
           |  count(*) AS n
           |FROM customer GROUP BY 1 ORDER BY bucket""".stripMargin),
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(width_bucket(col("c_nationkey"), lit(0), lit(25), lit(5))
          .cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")))

  /** Unpivot (wide -> long) via stack(); oracle is the equivalent UNION. */
  val unpivot: Q = Q(
    "x_unpivot",
    Some("""SELECT c_custkey, k, v FROM (
           |  SELECT c_custkey, 'acct_cents' AS k,
           |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM customer
           |  UNION ALL
           |  SELECT c_custkey, 'nation' AS k, CAST(c_nationkey AS BIGINT) AS v FROM customer)
           |ORDER BY c_custkey, k""".stripMargin),
    (s, d) =>
      Tables.customer(s, d)
        .selectExpr("c_custkey",
          "stack(2, 'acct_cents', CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT), " +
            "'nation', CAST(c_nationkey AS BIGINT)) AS (k, v)")
        .orderBy(col("c_custkey"), col("k")))

  /** Interval join: for each signup event, how many events the same user
    * fired within the next 60 seconds — an equi (user) + time-range join,
    * so it stays a shuffle/sort-merge join (never a nested loop) and the
    * range predicate is evaluated on integer microseconds. */
  val intervalJoin: Q = Q(
    "x_interval_join",
    Some("""SELECT a.event_id AS sid, count(b.event_id) AS n_next_min
           |FROM events a LEFT JOIN events b
           |  ON a.user_id = b.user_id AND epoch_us(b.ts) > epoch_us(a.ts)
           |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 60000000
           |WHERE a.event_type = 'signup'
           |GROUP BY 1 ORDER BY sid""".stripMargin),
    (s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("user_id"),
          unix_micros(col("ts")).as("aus"))
      val b = ev.select(col("user_id").as("uid2"), unix_micros(col("ts")).as("bus"),
        col("event_id").as("bid"))
      a.join(b,
        col("user_id") === col("uid2") && col("bus") > col("aus")
          && col("bus") - col("aus") <= 60000000L, "left")
        .groupBy(col("sid")).agg(count(col("bid")).as("n_next_min"))
        .orderBy(col("sid"))
    })

  /** Row generator: per-row integer sequence exploded to rows. */
  val sequenceExplode: Q = Q(
    "x_sequence_explode",
    Some("""SELECT n_nationkey, CAST(unnest(generate_series(1, n_nationkey % 4 + 1)) AS BIGINT) AS i
           |FROM nation ORDER BY n_nationkey, i""".stripMargin),
    (s, d) =>
      Tables.nation(s, d)
        .select(col("n_nationkey"),
          explode(sequence(lit(1), col("n_nationkey") % 4 + 1)).as("i0"))
        .select(col("n_nationkey"), col("i0").cast(LongType).as("i"))
        .orderBy(col("n_nationkey"), col("i")))

  /** regexp_extract_all: all matches as a joined string (array output
    * columns hash differently per reader — scalars only). */
  val regexpExtractAll: Q = Q(
    "x_regexp_extract_all",
    Some("""SELECT p_partkey,
           |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), ',') AS words,
           |  CAST(len(regexp_extract_all(p_type, '[A-Z]+')) AS BIGINT) AS n_upper_runs
           |FROM part ORDER BY p_partkey""".stripMargin),
    (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          array_join(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)), ",").as("words"),
          size(regexp_extract_all(col("p_type"), lit("[A-Z]+"), lit(0))).cast(LongType).as("n_upper_runs"))
        .orderBy(col("p_partkey")))

  /** try_* arithmetic: NULL instead of error on div-by-zero/overflow,
    * surfaced through coalesce sentinels (no NULL numeric outputs). */
  val tryArith: Q = Q(
    "x_try_arith",
    Some("""SELECT l_orderkey, l_linenumber,
           |  coalesce(CAST(l_orderkey AS BIGINT) / nullif(CAST(l_linenumber - 1 AS BIGINT), 0), -1) AS div0_guarded,
           |  coalesce(TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_orderkey AS VARCHAR)
           |    ELSE l_returnflag END AS BIGINT), -1) AS maybe_num
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    (s, d) =>
      // sort FIRST, project AFTER: TRY_CAST pays a caught exception per
      // failing row (~half the table here — 2.5s/600k rows, the price
      // of demonstrating failure-guarded arithmetic on genuinely
      // non-numeric input), and a global sort's range-sampling
      // re-executes its child — projecting below the sort ran the
      // try-expressions twice (full 5.5s vs 0.5s sort + 2.5s exprs at
      // sf0.1, COVERAGE.md). Project(Sort(scan)) runs them once; same rows,
      // same order, same hash.
      Tables.lineitem(s, d)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(try_divide(col("l_orderkey").cast(LongType),
            (col("l_linenumber") - 1).cast(LongType)), lit(-1L)).as("div0_guarded"),
          coalesce(expr("TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN CAST(l_orderkey AS STRING)" +
            " ELSE l_returnflag END AS BIGINT)"), lit(-1L)).as("maybe_num")))

  /** Correlated LATERAL subquery (decorrelated by Catalyst): per
    * customer, their max order price (0 cents when orderless). */
  val lateralJoin: Q = Q(
    "x_lateral",
    Some("""SELECT c.c_custkey, t.max_price_cents
           |FROM customer c, LATERAL (
           |  SELECT coalesce(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT), 0) AS max_price_cents
           |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
           |ORDER BY c.c_custkey""".stripMargin),
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_lat")
      Tables.orders(s, d).createOrReplaceTempView("orders_lat")
      s.sql("""SELECT c.c_custkey, t.max_price_cents
              |FROM customer_lat c, LATERAL (
              |  SELECT coalesce(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT), 0) AS max_price_cents
              |  FROM orders_lat o WHERE o.o_custkey = c.c_custkey) t
              |ORDER BY c.c_custkey""".stripMargin)
    })

  /** IGNORE NULLS window navigation: carry the last non-null forward. */
  val ignoreNullsWindow: Q = Q(
    "w_ignore_nulls",
    Some("""SELECT o_orderkey,
           |  coalesce(last_value(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END IGNORE NULLS)
           |    OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS last_f_key
           |FROM orders ORDER BY o_orderkey""".stripMargin),
    (s, d) => {
      val w = Window.orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          coalesce(
            last(when(col("o_orderstatus") === "F", col("o_orderkey")),
              ignoreNulls = true).over(w),
            lit(-1L)).as("last_f_key"))
        .orderBy(col("o_orderkey"))
    })

  /** Salted skew-resistant equi-join — exact same rows as the plain
    * join (the oracle), shuffled on (key, salt). */
  val saltedJoinQ: Q = Q(
    "x_salted_join",
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    (s, d) => {
      val o = Tables.orders(s, d).withColumnRenamed("o_custkey", "k")
      val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "k")
      graft.operators.Salted.saltedJoin(o, c, "k", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
    })

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM as a join key). */
  val nullSafeJoin: Q = Q(
    "x_null_safe_join",
    Some("""SELECT s_suppkey, coalesce(n_nationkey, -1) AS nk
           |FROM supplier s JOIN nation n
           |  ON nullif(s_nationkey, 7) IS NOT DISTINCT FROM nullif(n_nationkey, 7)
           |ORDER BY s_suppkey, nk""".stripMargin),
    (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.nation(s, d),
          nullif(col("s_nationkey"), lit(7)) <=> nullif(col("n_nationkey"), lit(7)))
        .select(col("s_suppkey"), coalesce(col("n_nationkey"), lit(-1)).as("nk"))
        .orderBy(col("s_suppkey"), col("nk")))

  /** nth_value window navigation over a full frame. */
  val nthValue: Q = Q(
    "w_nth_value",
    Some("""SELECT s_suppkey,
           |  coalesce(nth_value(s_suppkey, 2) OVER w, -1) AS nation_second
           |FROM supplier
           |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           |ORDER BY s_suppkey""".stripMargin),
    (s, d) => {
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          coalesce(nth_value(col("s_suppkey"), 2).over(w), lit(-1L)).as("nation_second"))
        .orderBy(col("s_suppkey"))
    })

  /** IN / NOT IN subqueries (Catalyst plans them as semi / anti joins;
    * the NOT IN key is guaranteed non-null so the three-valued-logic
    * trap does not bite). */
  val inSubquery: Q = Q(
    "x_in_subquery",
    Some("""SELECT c_custkey FROM customer
           |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
           |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_insq")
      Tables.nation(s, d).createOrReplaceTempView("nation_insq")
      Tables.orders(s, d).createOrReplaceTempView("orders_insq")
      s.sql("""SELECT c_custkey FROM customer_insq
              |WHERE c_nationkey IN (SELECT n_nationkey FROM nation_insq WHERE n_regionkey = 1)
              |  AND c_custkey NOT IN (SELECT o_custkey FROM orders_insq WHERE o_totalprice > 400000.0)
              |ORDER BY c_custkey""".stripMargin)
    })

  /** Keyed twin of the global running window (VERDICT r2 #5), at RAW
    * order grain (15k rows here; unbounded at scale): month-partitioned
    * running count/revenue + per-month offset stitch
    * (operators.KeyedWindows) — the serial sort shrinks to O(months).
    * Oracle: the plain global window, so equality IS the check. */
  val runningTotalKeyed: Q = Q(
    "w_running_total_keyed",
    Some("""SELECT o_orderkey,
           |  CAST(sum(1) OVER w AS BIGINT) AS cum_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cum_revenue
           |FROM orders
           |WINDOW w AS (ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |ORDER BY o_orderkey""".stripMargin),
    (s, d) =>
      graft.operators.KeyedWindows.runningSum(
          Tables.orders(s, d),
          date_trunc("month", col("o_orderdate")),
          Seq(col("o_orderdate"), col("o_orderkey")),
          Seq("cum_orders" -> lit(1L), "cum_revenue" -> dec(col("o_totalprice"))))
        .select(col("o_orderkey"),
          col("cum_orders").cast(LongType).as("cum_orders"),
          col("cum_revenue").cast("double").as("cum_revenue"))
        .orderBy(col("o_orderkey")))

  /** Keyed twin of w_ignore_nulls: o_orderkey range-buckets are the
    * prefix-consistent partition for a key-ordered window (month is NOT —
    * dates aren't monotone in the key). Same oracle as the global query. */
  val ignoreNullsKeyed: Q = Q(
    "w_ignore_nulls_keyed",
    Some("""SELECT o_orderkey,
           |  coalesce(last_value(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END IGNORE NULLS)
           |    OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS last_f_key
           |FROM orders ORDER BY o_orderkey""".stripMargin),
    (s, d) =>
      graft.operators.KeyedWindows.runningLastIgnoreNulls(
          Tables.orders(s, d),
          floor(col("o_orderkey") / 2048).cast(LongType),
          col("o_orderkey"),
          when(col("o_orderstatus") === "F", col("o_orderkey")),
          "last_f_raw")
        .select(col("o_orderkey"),
          coalesce(col("last_f_raw"), lit(-1L)).as("last_f_key"))
        .orderBy(col("o_orderkey")))

  /** MERGE/upsert over customer (graft.operators.Merge): source = update
    * rows (key%5=1: bumped nation, upper-cased name) plus insert rows
    * (key%5=2, shifted above the key range), matched deletes at key%20=1.
    * The oracle spells the identical classification as a FULL OUTER CTE
    * (DuckDB MERGE INTO needs a writable table; the join form is the
    * same semantics on read-only parquet). */
  val mergeUpsert: Q = Q(
    "x_merge_upsert",
    Some("""WITH tgt AS (
           |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey, c_name FROM customer),
           |upd AS (
           |  SELECT c_custkey, CAST((c_nationkey + 1) % 25 AS BIGINT) AS c_nationkey,
           |    upper(c_name) AS c_name
           |  FROM customer WHERE c_custkey % 5 = 1),
           |ins AS (
           |  SELECT c_custkey + 1000000 AS c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           |    'new_' || c_custkey AS c_name
           |  FROM customer WHERE c_custkey % 5 = 2),
           |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
           |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
           |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
           |  CASE WHEN s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL THEN 'update'
           |       WHEN s.c_custkey IS NOT NULL THEN 'insert' ELSE 'keep' END AS action
           |FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
           |WHERE NOT (t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
           |           AND s.c_custkey % 20 = 1)
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      val base = Tables.customer(s, d)
      val tgt = base.select(col("c_custkey"),
        col("c_nationkey").cast(LongType).as("c_nationkey"), col("c_name"))
      val upd = base.filter(col("c_custkey") % 5 === 1)
        .select(col("c_custkey"),
          ((col("c_nationkey") + 1) % 25).cast(LongType).as("c_nationkey"),
          upper(col("c_name")).as("c_name"))
      val ins = base.filter(col("c_custkey") % 5 === 2)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_nationkey").cast(LongType).as("c_nationkey"),
          concat(lit("new_"), col("c_custkey")).as("c_name"))
      graft.operators.Merge.merge(
          tgt, upd.unionByName(ins), Seq("c_custkey"),
          deleteWhen = Some(col("c_custkey") % 20 === 1))
        .orderBy(col("c_custkey"))
    })

  /** Null-safe MERGE semantics pinned by the oracle (ADVICE r4 #1): the
    * x_merge_upsert gate never exercises NULL keys, so a regression in the
    * <=> key match would pass undetected. Here the target has one NULL-key
    * row (nationkey 0 nulled out), the source updates it through a NULL
    * key, plus a matched delete (k=6), an unmatched tombstone (k=200,
    * must NOT resurrect as an insert) and a plain insert (k=100). The
    * oracle spells the join with IS NOT DISTINCT FROM and explicit
    * presence flags. Output key is coalesced to a -999 sentinel with a
    * k_was_null witness column (NULL numeric outputs are a known
    * hash-gate hazard). */
  val mergeNullSafe: Q = Q(
    "x_merge_nullsafe",
    Some("""WITH tgt AS (
           |  SELECT CASE WHEN n_nationkey = 0 THEN NULL
           |              ELSE CAST(n_nationkey AS BIGINT) END AS k,
           |         n_name AS v, true AS t_p
           |  FROM nation),
           |upd AS (
           |  SELECT CASE WHEN n_nationkey = 0 THEN NULL
           |              ELSE CAST(n_nationkey AS BIGINT) END AS k,
           |         lower(n_name) AS v
           |  FROM nation WHERE n_nationkey % 3 = 0),
           |src0 AS (
           |  SELECT * FROM upd
           |  UNION ALL SELECT CAST(100 AS BIGINT), 'inserted'
           |  UNION ALL SELECT CAST(200 AS BIGINT), 'tombstone'),
           |src AS (
           |  SELECT k, v, (v = 'tombstone' OR k IS NOT DISTINCT FROM 6) AS del,
           |         true AS s_p
           |  FROM src0)
           |SELECT coalesce(CASE WHEN t.t_p IS NOT NULL THEN t.k ELSE s.k END, -999) AS k,
           |  (CASE WHEN t.t_p IS NOT NULL THEN t.k ELSE s.k END) IS NULL AS k_was_null,
           |  CASE WHEN s.s_p IS NOT NULL THEN s.v ELSE t.v END AS v,
           |  CASE WHEN t.t_p IS NOT NULL AND s.s_p IS NOT NULL THEN 'update'
           |       WHEN s.s_p IS NOT NULL THEN 'insert' ELSE 'keep' END AS action
           |FROM tgt t FULL OUTER JOIN src s ON t.k IS NOT DISTINCT FROM s.k
           |WHERE NOT (s.s_p IS NOT NULL AND s.del)
           |ORDER BY k""".stripMargin),
    (s, d) => {
      val base = Tables.nation(s, d)
      def nullKey = when(col("n_nationkey") === 0, lit(null))
        .otherwise(col("n_nationkey")).cast(LongType).as("k")
      val tgt = base.select(nullKey, col("n_name").as("v"))
      val upd = base.filter(col("n_nationkey") % 3 === 0)
        .select(nullKey, lower(col("n_name")).as("v"))
      // literal rows via range(): the product-encoder toDF alternative
      // pays a one-time ~5s scala-reflect mirror init the first time any
      // query derives an encoder — measured as this query's entire cold
      // cost in the bench
      val extra = s.range(1)
        .select(lit(100L).as("k"), lit("inserted").as("v"))
        .unionByName(s.range(1)
          .select(lit(200L).as("k"), lit("tombstone").as("v")))
      val src = upd.unionByName(extra)
      graft.operators.Merge.merge(tgt, src, Seq("k"),
          deleteWhen = Some(col("v") === "tombstone" || col("k") <=> 6))
        .select(coalesce(col("k"), lit(-999L)).as("k"),
          col("k").isNull.as("k_was_null"), col("v"), col("action"))
        .orderBy(col("k"))
    })

  /** Top-k per group as a k-bounded AGGREGATE (TopKByAgg) instead of a
    * window: `row_number() <= k` shuffles and sorts every row of every
    * group; the aggregate prunes to k pairs per group in the map-side
    * partial, so the exchange carries O(groups*k) — the 100-TB rewrite
    * of `w_rank_topk_per_group`, same rows, same oracle shape (the
    * (acctbal DESC, suppkey ASC) total order makes them value-for-value
    * interchangeable; acctbal rides as exact cents). */
  val topkAgg: Q = Q(
    "x_topk_agg",
    Some("""SELECT s_nationkey, s_suppkey, rn FROM (
           |  SELECT s_nationkey, s_suppkey,
           |    row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rn
           |  FROM supplier)
           |WHERE rn <= 3 ORDER BY s_nationkey, rn""".stripMargin),
    (s, d) =>
      Tables.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(graft.functions.TopKByAgg.top_k_by(
          // exact cents via DECIMAL(18,2): (double * 100).cast(long)
          // TRUNCATES (0.57*100 = 56.999...) and collapses adjacent
          // cent values into false ties the oracle doesn't have
          (col("s_acctbal").cast("decimal(18,2)") * 100).cast(LongType),
          col("s_suppkey").cast(LongType), 3).as("top"))
        .select(col("s_nationkey"), posexplode(col("top")))
        .select(col("s_nationkey"), col("col.value").as("s_suppkey"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy(col("s_nationkey"), col("rn")))

  val all: Seq[Q] = Seq(statsAgg, ntileDist, arrayFuncs2, filteredAgg, topkAgg,
    widthBucketHist, unpivot, intervalJoin, sequenceExplode,
    regexpExtractAll, tryArith, lateralJoin, ignoreNullsWindow,
    saltedJoinQ, nullSafeJoin, nthValue, inSubquery, mergeUpsert,
    mergeNullSafe, runningTotalKeyed, ignoreNullsKeyed)
}
