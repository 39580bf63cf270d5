package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface of SURVEY.md §2 (the stock-PostgreSQL
  * part of the reference executor), expressed as idiomatic Spark
  * DataFrame plans, each paired with an ANSI-SQL oracle (DuckDB).
  *
  * Conventions that keep the driver's hash-compare stable:
  *  - every computed column is aliased identically in Spark and SQL;
  *  - double aggregates are rounded to 2 decimals on both sides;
  *  - every query ends in a total ORDER BY on its output key(s);
  *  - time keys are emitted as DATE (never raw timestamps).
  *
  * Scale notes (100 TB thinking): dims `region`/`nation` are constant
  * size -> always broadcast; fact-fact joins shuffle on their join key
  * and aggregate partially map-side (Catalyst does both when the plan
  * is declarative); every scan projects only needed columns so parquet
  * column pruning + predicate pushdown engage.
  */
object RelationalQueries {
  import Tables.load

  type Q = (SparkSession, String) => DataFrame

  /** Exact distributed sum of a double money/qty column: cast to
    * decimal first so partial-aggregation order can't wiggle the last
    * ulp (sum of doubles is order-dependent; decimal sums are exact,
    * so Spark and the DuckDB oracle agree bit-for-bit). Mirrored in SQL
    * as CAST(sum(CAST(x AS DECIMAL(18,p))) AS DOUBLE).
    */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 4) =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  val queries: Map[String, Q] = Map(
    // ---- scans / filters / projections -------------------------------
    // SeqScan + Filter + Projection (SURVEY §2.1/§2.2): predicate and
    // column pruning both reach the parquet scan.
    "q01_filter_project" -> { (s, d) =>
      load(s, d, "lineitem")
        .where(col("l_quantity") > 45 && col("l_discount") <= lit(0.02))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // TPC-H Q1 shape: hash aggregate w/ partial+final (nodeAgg.c).
    "q02_agg_groupby" -> { (s, d) =>
      load(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(dsum(col("l_quantity")), 2).as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_discount").cast("decimal(28,6)")) / count(lit(1)), 4)
            .cast("double").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- joins -------------------------------------------------------
    // Shuffled hash/sort-merge equi-join on the fact keys (nodeHashjoin.c).
    "q03_join_agg" -> { (s, d) =>
      val orders = load(s, d, "orders")
      val cust = load(s, d, "customer")
      orders.join(cust, orders("o_custkey") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(dsum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // Multi-way join with broadcast dims (TPC-H Q5 shape). nation/region
    // are constant-size -> broadcast; the fact-side joins shuffle once.
    // Eager aggregation: lineitem revenue pre-sums per order BELOW the
    // join chain (exact — decimal partials), so every downstream
    // shuffle carries one row per order instead of every lineitem;
    // at 100 TB that is the difference between shuffling the fact
    // table once vs three times.
    "q04_join_multiway" -> { (s, d) =>
      val li = load(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).as("__rev"))
      val ord = load(s, d, "orders")
      val cust = load(s, d, "customer")
      val nat = broadcast(load(s, d, "nation"))
      val reg = broadcast(load(s, d, "region"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(nat, cust("c_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("__rev")).cast("double"), 2).as("revenue"))
        .orderBy("r_name", "n_name")
    },

    // LEFT OUTER join (customers with possibly no orders).
    "q05_left_join" -> { (s, d) =>
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(dsum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
        .orderBy("c_custkey")
    },

    // SEMI join — EXISTS (JOIN_SEMI, nodes.h:788).
    "q06_semi_join" -> { (s, d) =>
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders").where(col("o_totalprice") > 100000)
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ANTI join — NOT EXISTS (JOIN_ANTI).
    "q07_anti_join" -> { (s, d) =>
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders").where(col("o_totalprice") > 250000)
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // FULL OUTER join over disjoint-ish key ranges.
    "q08_full_outer" -> { (s, d) =>
      val hi = load(s, d, "supplier").where(col("s_acctbal") > 5000)
        .select(col("s_nationkey").as("nk"), col("s_acctbal"))
        .groupBy("nk").agg(count(lit(1)).as("n_hi"))
      val lo = load(s, d, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nk"), col("s_acctbal"))
        .groupBy("nk").agg(count(lit(1)).as("n_lo"))
      hi.join(lo, Seq("nk"), "full_outer")
        .select(col("nk"), coalesce(col("n_hi"), lit(0)).as("n_hi"),
          coalesce(col("n_lo"), lit(0)).as("n_lo"))
        .orderBy("nk")
    },

    // ---- aggregation variants ---------------------------------------
    // DISTINCT aggregate (nodeAgg.c DISTINCT path).
    "q09_distinct_agg" -> { (s, d) =>
      load(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },

    // ROLLUP (grouping-sets phase machinery of nodeAgg.c).
    "q10_rollup" -> { (s, d) =>
      load(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy("rf", "ls")
    },

    // CUBE.
    "q11_cube" -> { (s, d) =>
      load(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"), col("n"))
        .orderBy("st", "pri")
    },

    // ---- window functions (§2.6, nodeWindowAgg.c) -------------------
    // Ranking: top-3 orders per customer by price (fully deterministic
    // tiebreak on o_orderkey).
    "q12_window_rank" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      load(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn", "o_orderkey")
    },

    // Analytic lag/lead + running aggregate over frames.
    "q13_window_analytic" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          coalesce(lag("o_orderkey", 1).over(w), lit(-1)).as("prev_key"),
          round(sum("o_totalprice").over(wsum), 2).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- sort / limit / top-k / distinct / set ops (§2.7) -----------
    // Limit-over-Sort fuses to TakeOrderedAndProject.
    "q14_topk" -> { (s, d) =>
      load(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    },

    // OFFSET (Cypher SKIP) + LIMIT.
    "q15_offset_limit" -> { (s, d) =>
      load(s, d, "orders")
        .orderBy(col("o_orderkey"))
        .offset(10).limit(15)
        .select("o_orderkey", "o_custkey")
    },

    // DISTINCT (nodeUnique.c).
    "q16_distinct" -> { (s, d) =>
      load(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // UNION ALL / INTERSECT / EXCEPT (nodeSetOp.c / nodeAppend.c).
    "q17_union_all" -> { (s, d) =>
      val a = load(s, d, "customer").where(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("k"))
      val b = load(s, d, "customer").where(col("c_acctbal") < -900)
        .select(col("c_custkey").as("k"))
      a.unionAll(b).orderBy("k")
    },
    "q18_intersect" -> { (s, d) =>
      val a = load(s, d, "orders").where(col("o_totalprice") > 50000)
        .select(col("o_custkey").as("k"))
      val b = load(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.intersect(b).orderBy("k")
    },
    "q19_except" -> { (s, d) =>
      val a = load(s, d, "customer").where(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("k"))
      val b = load(s, d, "orders").where(col("o_totalprice") > 250000)
        .select(col("o_custkey").as("k"))
      a.except(b).orderBy("k")
    },

    // ---- subqueries --------------------------------------------------
    // IN-subquery (hashed semi-join after decorrelation).
    // Multiset set ops (nodeSetOp.c INTERSECT/EXCEPT ALL: duplicates
    // survive up to the matching multiplicity).
    "q55_intersect_all" -> { (s, d) =>
      val a = load(s, d, "orders").where(col("o_totalprice") > 50000)
        .select(col("o_custkey").as("k"))
      val b = load(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.intersectAll(b).orderBy("k")
    },
    "q56_except_all" -> { (s, d) =>
      val a = load(s, d, "orders").where(col("o_totalprice") > 50000)
        .select(col("o_custkey").as("k"))
      val b = load(s, d, "orders").where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.exceptAll(b).orderBy("k")
    },

    "q20_in_subquery" -> { (s, d) =>
      val nat = load(s, d, "nation")
      val sup = load(s, d, "supplier")
      val nks = sup.where(col("s_acctbal") > 9000)
        .select(col("s_nationkey")).distinct()
      nat.join(nks, nat("n_nationkey") === nks("s_nationkey"), "left_semi")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    },

    // Scalar subquery: rows above the global average.
    "q21_scalar_subquery" -> { (s, d) =>
      val ord = load(s, d, "orders")
      val avgPrice = ord.agg(avg("o_totalprice").as("a"))
      ord.crossJoin(broadcast(avgPrice))
        .where(col("o_totalprice") > col("a") * 1.8)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // VALUES scan joined against a table (nodeValuesscan.c).
    "q22_values_join" -> { (s, d) =>
      import s.implicits._
      val wanted = Seq(("AMERICA"), ("ASIA")).toDF("r_name2")
      val reg = load(s, d, "region")
      reg.join(broadcast(wanted), reg("r_name") === col("r_name2"))
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    },

    // ---- SRF / explode (nodeProjectSet.c / FunctionScan) ------------
    "q23_explode" -> { (s, d) =>
      load(s, d, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("doc_id").agg(count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    },

    // ---- scalar expression surface ----------------------------------
    // CASE / COALESCE / IS NULL (3VL; grammar gram.y:17404).
    "q24_case_null" -> { (s, d) =>
      load(s, d, "customer")
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("band"),
          col("c_acctbal").isNull.as("bal_is_null"))
        .groupBy("band", "bal_is_null")
        .agg(count(lit(1)).as("n"))
        .orderBy("band", "bal_is_null")
    },

    // String function long tail (§2.8 string fns).
    "q25_string_fns" -> { (s, d) =>
      load(s, d, "part").where(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub5"),
          length(col("p_name")).as("len"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
          reverse(col("p_type")).as("rev"),
          trim(concat(lit("  "), col("p_brand"), lit(" "))).as("trimmed"),
          col("p_name").startsWith("a").as("sw"),
          col("p_name").contains("re").as("ct"))
        .orderBy("p_partkey")
    },

    // Math function long tail (§2.8 math fns) — rounded for float safety.
    "q26_math_fns" -> { (s, d) =>
      load(s, d, "supplier").where(col("s_suppkey") <= 200)
        .select(col("s_suppkey"),
          round(abs(col("s_acctbal")), 2).as("abs_bal"),
          ceil(col("s_acctbal")).cast("long").as("ceil_bal"),
          floor(col("s_acctbal")).cast("long").as("floor_bal"),
          round(sqrt(abs(col("s_acctbal"))), 4).as("sqrt_bal"),
          signum(col("s_acctbal")).cast("int").as("sign_bal"),
          pmod(col("s_suppkey"), lit(7)).as("mod7"),
          round(pow(col("s_suppkey"), 2), 1).as("pow2"),
          round(log(col("s_suppkey") + 1), 4).as("ln1"))
        .orderBy("s_suppkey")
    },

    // ---- time-series over events ------------------------------------
    // Tumbling-window aggregation expressed relationally (date_trunc) so
    // the same plan works batch & streaming (see graft.streaming).
    "q27_time_bucket" -> { (s, d) =>
      load(s, d, "events")
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(dsum(col("value")), 2).as("total"))
        .orderBy("day", "event_type")
    },

    // JSON property access on events.props (jsonb-ish surface over SQL).
    "q28_json_extract" -> { (s, d) =>
      load(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // Correlated EXISTS via join (LATERAL shape of OPTIONAL MATCH).
    "q29_groupjoin" -> { (s, d) =>
      val nat = broadcast(load(s, d, "nation"))
      val cust = load(s, d, "customer")
      val perNation = cust.groupBy("c_nationkey")
        .agg(round(sum(col("c_acctbal").cast("decimal(28,4)")) / count(lit(1)), 2)
          .cast("double").as("avg_bal"),
          count(lit(1)).as("n_cust"))
      nat.join(perNation, nat("n_nationkey") === perNation("c_nationkey"), "left")
        .select(col("n_name"), coalesce(col("avg_bal"), lit(0.0)).as("avg_bal"),
          coalesce(col("n_cust"), lit(0)).as("n_cust"))
        .orderBy("n_name")
    },

    // Explicit GROUPING SETS (nodeAgg.c phases; SQL-side surface).
    "q33_grouping_sets" -> { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS st,
          |  coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY st, pri""".stripMargin)
    },

    // Ordered string aggregation (string_agg / listagg analog).
    "q34_listagg" -> { (s, d) =>
      load(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))
        .orderBy("n_regionkey")
    },

    // RANGE frame: sum over a value range around the current row.
    "q35_window_range" -> { (s, d) =>
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_orderkey"))
        .rangeBetween(-5, 0)
      load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          count(lit(1)).over(w).as("n_near"))
        .orderBy("o_orderkey")
    },

    // percent_rank / ntile ranking analytics (exact rationals).
    "q36_percent_rank" -> { (s, d) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      load(s, d, "orders").where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderkey")
    },

    // As-of join: each event matched to the latest order at-or-before
    // its timestamp for the same key (SURVEY §2.3 range/as-of row —
    // absent from the reference, standard for feature pipelines).
    // Equi-join on key + per-event max-date filter: shuffles once on
    // the key, the window runs inside the partition.
    "q38_asof_join" -> { (s, d) =>
      val ev = load(s, d, "events").where(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("ev_day"))
      val ord = load(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_day"))
      val joined = ev.join(ord,
        ev("user_id") === ord("o_custkey") && col("o_day") <= col("ev_day"), "left")
      val w = Window.partitionBy("event_id")
        .orderBy(col("o_day").desc_nulls_last, col("o_orderkey").desc_nulls_last)
      joined.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_id"), col("o_orderkey").as("asof_order"))
        .orderBy("event_id")
    },

    // Batch sessionization: gap-based islands via lag + running sum —
    // the batch twin of graft.streaming session windows, expressed so
    // the oracle can run the identical logic.
    "q39_sessionize" -> { (s, d) =>
      val gapMinutes = 30
      val ev = load(s, d, "events").where(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("ts"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val flagged = ev.withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >
              gapMinutes * 60, 1).otherwise(0))
      flagged.withColumn("sess", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max("n_events").as("max_sess_len"))
        .orderBy("user_id")
    },

    // FETCH FIRST n ROWS WITH TIES (§2.7 Limit WITH TIES): rank-based —
    // every row tying with the n-th comes along.
    "q40_with_ties" -> { (s, d) =>
      val w = Window.orderBy(col("l_quantity").desc)
      load(s, d, "lineitem")
        .where(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("__rk", rank().over(w))
        .where(col("__rk") <= 5).drop("__rk")
        .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))
    },

    // GROUPS window frames (§2.6 gap): emulated exactly with
    // dense_rank + a RANGE frame over the rank — peer groups step as
    // units; DuckDB's native GROUPS mode is the oracle.
    "q41_groups_frame" -> { (s, d) =>
      val bucket = date_trunc("hour", col("ts")).as("bkt")
      val ev = load(s, d, "events").where(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), bucket,
          col("value").cast("decimal(28,6)").as("v"))
      val byBkt = Window.partitionBy("user_id").orderBy("bkt")
      val withDr = ev.withColumn("__dr", dense_rank().over(byBkt))
      val frame = Window.partitionBy("user_id").orderBy("__dr")
        .rangeBetween(-1, 0) // 1 peer-group preceding .. current group
      withDr
        .select(col("user_id"), col("event_id"),
          sum("v").over(frame).cast("double").as("grp_sum"))
        .orderBy("user_id", "event_id")
    },

    // ---- jsonb expression surface (graft.expr custom Expressions) ---
    // Property extraction via the jsonb_get function (J.getKey)
    // (the same operator Cypher property access compiles to).
    "q31_jsonb_get" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "events")
        .select(col("event_id"), J.toLong(J.getKey(col("props"), "k")).as("k"))
        .where(col("k").isNotNull && col("k") >= 80)
        .orderBy("event_id")
    },

    // jsonb comparison + arithmetic in a filter + aggregate.
    "q32_jsonb_filter_agg" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "events")
        .where(J.gt(J.getKey(col("props"), "k"), J.lit("50")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(J.toLong(J.add(J.getKey(col("props"), "k"), J.lit("1")))).as("sum_k1"))
        .orderBy("event_type")
    },

    // Skew-aware join: salt the hot key N ways, replicate the dim rows
    // per salt, join on (key, salt) — the standard remedy when one key
    // dominates a shuffle (AQE skew-join does this adaptively; the
    // explicit form survives any planner). Oracle = the plain join.
    "q37_skew_salted_join" -> { (s, d) =>
      val salts = 8
      // skew source: every lineitem mapped to a single hot dim key
      val li = load(s, d, "lineitem")
        .withColumn("hot_key", when(col("l_orderkey") % 10 < 8, 0)
          .otherwise(col("l_orderkey") % 10))
        .withColumn("__salt", pmod(col("l_linenumber") + col("l_orderkey"), lit(salts)))
      val dim = load(s, d, "region")
        .select(col("r_regionkey").as("hot_key"), col("r_name"))
        .crossJoin(broadcast(
          s.range(0, salts).select(col("id").cast("int").as("__salt"))))
      li.join(dim, Seq("hot_key", "__salt"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n"), round(dsum(col("l_quantity")), 2).as("qty"))
        .orderBy("r_name")
    },

    // Sample scan surface (deterministic variant: modulo-hash sampling so
    // the oracle can reproduce it exactly; df.sample() is the
    // non-deterministic API analog).
    "q30_sample_deterministic" -> { (s, d) =>
      load(s, d, "orders")
        .where(pmod(col("o_orderkey"), lit(97)) === 0)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Window frame exclusion (§2.6 gap, nodeWindowAgg.c EXCLUDE CURRENT
    // ROW): emulated exactly as frame-sum minus the current row's value,
    // NULL when the excluded frame is empty. Decimal space end-to-end so
    // partial-agg order can't wiggle the result; DuckDB's native EXCLUDE
    // is the oracle.
    "q42_frame_exclude" -> { (s, d) =>
      val v = col("o_totalprice").cast("decimal(28,4)")
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        .rowsBetween(-3, 3)
      load(s, d, "orders").where(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(count(lit(1)).over(w) > 1,
            round(sum(v).over(w) - v, 2)).cast("double").as("excl_sum"))
        .orderBy("o_orderkey")
    },

    // Exact interpolated percentiles (percentile_cont; ordered-set agg in
    // PG). Rounded in decimal space: double round() disagrees between
    // engines on .xx5 boundaries, decimal HALF_UP doesn't.
    "q43_percentile" -> { (s, d) =>
      def pct(p: Double) =
        round(expr(s"percentile(o_totalprice, $p)").cast("decimal(28,6)"), 2)
          .cast("double")
      load(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(pct(0.25).as("p25"), pct(0.5).as("p50"), pct(0.75).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // PIVOT: one output column per status value (the crosstab surface).
    "q44_pivot" -> { (s, d) =>
      load(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")
    },

    // UNPIVOT / melt: wide columns to (metric, val) rows.
    "q45_unpivot" -> { (s, d) =>
      load(s, d, "supplier").where(col("s_suppkey") <= 100)
        .select(col("s_suppkey"), col("s_acctbal").cast("double").as("acctbal"),
          col("s_nationkey").cast("double").as("nationkey"))
        .unpivot(Array(col("s_suppkey")),
          Array(col("acctbal"), col("nationkey")), "metric", "val")
        .orderBy("s_suppkey", "metric")
    },

    // Datetime function long tail (§2.8 `timestamp()` etc. reach the
    // stock PG datetime library from Cypher via SQL).
    "q46_date_fns" -> { (s, d) =>
      val od = to_date(col("o_orderdate"))
      load(s, d, "orders").where(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_add(od, 30).as("plus30"),
          datediff(to_date(lit("1998-12-31")), od).as("days_to_end"),
          last_day(od).as("eom"))
        .orderBy("o_orderkey")
    },

    // Fixed-width histogram (width_bucket shape): identical floor
    // formula on both sides so the bucketing is bit-reproducible.
    "q47_histogram" -> { (s, d) =>
      load(s, d, "customer")
        .select(floor((col("c_acctbal") - lit(-1000.0)) / lit(1000.0))
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // WITH RECURSIVE (nodeRecursiveunion.c — the literal SQL surface;
    // Spark 4 executes it natively, same driver-loop shape as our
    // VLE/BFS): ancestor closure customer -> nation -> region.
    "q51_recursive_cte" -> { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """WITH RECURSIVE up(key, anc) AS (
          |  SELECT c_custkey, 1000000 + c_nationkey FROM customer
          |  UNION ALL
          |  SELECT up.key, 2000000 + n_regionkey FROM up
          |    JOIN nation ON up.anc = 1000000 + n_nationkey)
          |SELECT anc, count(*) AS n FROM up
          |GROUP BY anc ORDER BY anc""".stripMargin)
    },

    // Explicit NULLS FIRST/LAST ordering (§2.7: Spark defaults nulls
    // first on ASC, DuckDB defaults nulls last — the explicit forms are
    // the portable surface).
    "q54_nulls_order" -> { (s, d) =>
      val cust = load(s, d, "customer").where(col("c_custkey") <= 300)
      val big = load(s, d, "orders").where(col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(round(max(col("o_totalprice").cast("decimal(28,4)")), 2)
          .cast("double").as("top_order"))
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left")
        .select(col("c_custkey"), col("top_order"))
        .orderBy(col("top_order").asc_nulls_first, col("c_custkey"))
        .limit(100)
    },

    // Window navigation (§2.6: first/last/nth value over frames).
    "q53_window_nav" -> { (s, d) =>
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      load(s, d, "orders").where(col("o_orderkey") <= 1000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(w).as("first_key"),
          last("o_orderkey").over(wFull).as("last_key"),
          nth_value(col("o_orderkey"), 3).over(wFull).as("third_key"))
        .orderBy("o_orderkey")
    },

    // Statistical aggregates (§2.5 long tail: corr / covar / linear
    // regression — stock PG ordered-set statistics). Rounded in decimal
    // space after the float agg so engine ulp differences vanish.
    "q52_stat_aggs" -> { (s, d) =>
      def r6(c: org.apache.spark.sql.Column) =
        round(c.cast("decimal(28,8)"), 6).cast("double")
      load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          r6(corr(col("l_quantity"), col("l_extendedprice"))).as("r"),
          r6(covar_samp(col("l_quantity"), col("l_discount"))).as("cs"),
          r6(covar_pop(col("l_quantity"), col("l_discount"))).as("cp"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity"))
            .cast("decimal(28,8)"), 4).cast("double").as("slope"))
        .orderBy("l_returnflag")
    },

    // Relational division ("for all": customers who ordered in EVERY
    // status). Idiomatic Spark = distinct-count equality (one shuffle);
    // the oracle runs the classic double-NOT-EXISTS form.
    "q49_division" -> { (s, d) =>
      val ord = load(s, d, "orders")
      val nStatuses = ord.select(countDistinct("o_orderstatus").as("k"))
      val perCust = ord.groupBy("o_custkey")
        .agg(countDistinct("o_orderstatus").as("mine"))
      val cust = load(s, d, "customer")
      cust.join(perCust, cust("c_custkey") === perCust("o_custkey"))
        .crossJoin(broadcast(nStatuses))
        .where(col("mine") === col("k"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Time-series gap filling: dense (type, day) grid from
    // sequence(min, max) zero-filled by left join — the standard
    // feature-pipeline densify step (generate_series analog).
    "q50_gapfill" -> { (s, d) =>
      val ev = load(s, d, "events").where(col("user_id") < 5)
        .select(to_date(col("ts")).as("day"), col("event_type"))
      val byDay = ev.groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      val days = ev.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      ev.select("event_type").distinct()
        .crossJoin(broadcast(days))
        .join(byDay, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("cnt"), lit(0L)).as("n"))
        .orderBy("event_type", "day")
    },

    // LATERAL top-n-per-group (the reference reaches this via LATERAL
    // subqueries; OPTIONAL MATCH compiles through the same machinery).
    // Spark shape: aggregate once, rank inside the group — one shuffle,
    // no per-outer-row re-execution.
    "q48_lateral_topn" -> { (s, d) =>
      val perNation = load(s, d, "supplier")
        .groupBy("s_nationkey")
        .agg(sum(col("s_acctbal").cast("decimal(28,4)")).as("total_d"))
      val nat = broadcast(load(s, d, "nation"))
      val w = Window.partitionBy("n_regionkey")
        .orderBy(col("total_d").desc, col("n_name"))
      nat.join(perNation, nat("n_nationkey") === perNation("s_nationkey"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("n_regionkey").as("r_regionkey"), col("n_name"),
          round(col("total_d"), 2).cast("double").as("total"))
        .orderBy(col("r_regionkey"), col("total").desc, col("n_name"))
    },

    // Aggregate FILTER clause + boolean / bitwise aggregates (stock PG
    // nodeAgg.c surface reachable from the reference's SQL side):
    // count FILTER = count over when(); bool_and/bool_or and
    // bit_and/bit_or/bit_xor all partial-aggregate map-side.
    "q57_filtered_agg" -> { (s, d) =>
      val k = pmod(col("o_orderkey"), lit(4096))
      load(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          bool_or(col("o_orderstatus") === lit("F")).as("any_f"),
          bool_and(col("o_totalprice") > 1000).as("all_gt_1k"),
          bit_and(k).as("k_and"),
          bit_or(k).as("k_or"),
          bit_xor(k).as("k_xor"))
        .orderBy("o_orderpriority")
    },

    // Ordered-set aggregates (stock PG mode()/percentile_disc WITHIN
    // GROUP): both emulated deterministically — mode = argmax by
    // (count desc, value), percentile_disc(p) = min value whose
    // cume_dist reaches p. The oracle runs the SAME formulation, so
    // tie and boundary semantics are pinned engine-independently
    // (built-in mode/quantile_disc differ across engines on ties).
    "q58_mode_percentile" -> { (s, d) =>
      val li = load(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("q"))
      val counts = li.groupBy("flag", "q").agg(count(lit(1)).as("n"))
      val wm = Window.partitionBy("flag").orderBy(col("n").desc, col("q"))
      val mode = counts.withColumn("rn", row_number().over(wm))
        .where(col("rn") === 1).select(col("flag"), col("q").as("mode_q"))
      val wc = Window.partitionBy("flag").orderBy("q")
      val pct = li.withColumn("cd", cume_dist().over(wc))
        .groupBy("flag")
        .agg(min(when(col("cd") >= 0.5, col("q"))).as("p50"),
          min(when(col("cd") >= 0.9, col("q"))).as("p90"))
      mode.join(pct, "flag").orderBy("flag")
    },

    // DISTINCT ON (PostgreSQL-specific projection the reference
    // inherits): first row per key under an ORDER BY — the latest
    // order per customer. Spark shape: row_number() = 1 (one shuffle);
    // the oracle runs DuckDB's native DISTINCT ON.
    "q59_distinct_on" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      load(s, d, "orders").where(col("o_custkey") < 300)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"))
        .orderBy("o_custkey")
    },

    // Correlated NOT EXISTS with a non-equi predicate (stock PG
    // sublink surface): Catalyst plans the decorrelated form — a
    // left-anti join whose condition carries the correlation, so no
    // per-row re-execution.
    "q60_not_exists_correlated" -> { (s, d) =>
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey") &&
          ord("o_totalprice") > cust("c_acctbal") * 30, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // IGNORE-NULLS window navigation (PG last_value IGNORE NULLS):
    // forward-fill the last purchase amount across each user's event
    // stream. One running-frame window — no self-join, no gaps table.
    "q61_ffill_ignore_nulls" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "events").where(col("user_id") < 50)
        .withColumn("pv", when(col("event_type") === "purchase", col("value")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(last(col("pv"), ignoreNulls = true).over(w), 2)
            .as("last_purchase"))
        .orderBy("user_id", "event_id")
    },

    // Regexp capture-group extraction (PG substring(col FROM re) /
    // regexp_match): split "color object" part names into attributes,
    // then profile. Pure map-side expressions into one aggregation.
    "q62_regexp_groups" -> { (s, d) =>
      load(s, d, "part")
        .where(col("p_name").rlike("^\\w+ \\w+$"))
        .select(regexp_extract(col("p_name"), "^(\\w+) (\\w+)$", 1).as("color"),
          regexp_extract(col("p_name"), "^(\\w+) (\\w+)$", 2).as("object"))
        .groupBy("color")
        .agg(count(lit(1)).as("n"), countDistinct("object").as("n_objects"))
        .orderBy("color")
    },

    // Interval-containment join (PG range predicates over tsrange):
    // tag events with the maintenance window containing them. The
    // window table is tiny and broadcast, so the event side streams
    // through a broadcast nested-loop with zero shuffle — the right
    // shape until BOTH sides are large (then: bin-and-equi-join).
    "q63_interval_join" -> { (s, d) =>
      import s.implicits._
      val wins = Seq(
        ("w1", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
        ("w2", "2024-01-15 12:00:00", "2024-01-17 00:00:00"),
        ("w3", "2024-01-24 06:00:00", "2024-01-28 00:00:00"))
        .toDF("win", "lo", "hi")
        .select(col("win"), col("lo").cast("timestamp").as("lo"),
          col("hi").cast("timestamp").as("hi"))
      load(s, d, "events")
        .join(broadcast(wins), col("ts") >= col("lo") && col("ts") < col("hi"))
        .groupBy("win")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          round(dsum(col("value")), 2).as("total_value"))
        .orderBy("win")
    },

    // Ordered string aggregation (PG string_agg(x, ',' ORDER BY y) —
    // the ordered-aggregate surface): collect, sort by the ORDER key
    // inside the aggregate, then join. One shuffle; the per-group sort
    // happens post-aggregation on grouped arrays, never globally.
    "q64_listagg_ordered" -> { (s, d) =>
      load(s, d, "customer").where(col("c_custkey") <= 60)
        .groupBy("c_nationkey")
        .agg(array_join(transform(array_sort(collect_list(struct(
          col("c_acctbal").as("a"), col("c_name").as("n")))),
          x => x.getField("n")), ",").as("names"))
        .orderBy("c_nationkey")
    },

    // GROUPING()/GROUPING_ID() disambiguation of rollup output rows
    // (stock PG grouping functions): tells "NULL because aggregated"
    // from "NULL in the data".
    "q65_grouping_fn" -> { (s, d) =>
      load(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("n"))
        .orderBy("st", "pri", "gid")
    },

    // Time-interval RANGE frames (PG RANGE BETWEEN INTERVAL ...
    // PRECEDING): trailing 1-hour event count/sum per user. Spark's
    // range frame is numeric, so the frame runs over epoch
    // MICROseconds — exact, no second-truncation drift against the
    // oracle's native interval frame.
    "q66_time_range_frame" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, 0)
      load(s, d, "events").where(col("user_id") < 30)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(28,4)")).over(w)
            .cast("double"), 2).as("v_1h"))
        .orderBy("user_id", "event_id")
    },

    // DISTINCT aggregate over a window (§2.6; Spark has no native
    // count(DISTINCT) OVER — size(collect_set() OVER) is the exact
    // equivalent and stays map-side within the window partition).
    "q69_window_count_distinct" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
      load(s, d, "events").where(col("user_id") < 200)
        .select(col("event_id"), col("user_id"),
          size(collect_set(col("event_type")).over(w)).as("nd"))
        .orderBy("event_id")
    },

    // Ordered-sequence funnel (the MATCH_RECOGNIZE/event-pattern
    // shape): first view, then first click strictly AFTER it, then
    // first purchase strictly after that — each stage one aggregation
    // over a stage-filtered semi-join, so the event table streams
    // through three pruned passes instead of a per-user sort; users
    // drop out with NULLs at the stage they missed.
    "q70_funnel" -> { (s, d) =>
      val e = load(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_micros(col("v_ts")).as("v_us"),
          unix_micros(col("c_ts")).as("c_us"),
          unix_micros(col("p_ts")).as("p_us"))
        .orderBy("user_id")
    },

    // Keyed snapshot upsert (MERGE INTO semantics as a pure plan —
    // no table-format dependency): updates overwrite matched keys,
    // inserts add new keys, tombstones delete. One full-outer join on
    // the key; at scale both sides shuffle-partition by key once and
    // the output is the next snapshot — the incremental-maintenance
    // primitive behind CDC ingestion.
    "q71_upsert" -> { (s, d) =>
      val snap = load(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      // deterministic change set derived from orders: key % 7 == 0 →
      // tombstone; else upsert bal = o_totalprice of the key's max
      // order (updates existing customers, inserts key+200000)
      val ch = load(s, d, "orders")
        .groupBy(col("o_custkey").as("k"))
        .agg(max(struct(col("o_orderkey"), col("o_totalprice")))
          .getField("o_totalprice").as("new_bal"))
        .withColumn("op", when(col("k") % 7 === 0, lit("D")).otherwise(lit("U")))
        .unionByName(load(s, d, "orders")
          .groupBy((col("o_custkey") + 200000).as("k"))
          .agg(max(struct(col("o_orderkey"), col("o_totalprice")))
            .getField("o_totalprice").as("new_bal"))
          .withColumn("op", lit("I")).where(col("k") % 7 =!= 0))
      snap.join(ch, Seq("k"), "full_outer")
        .where(col("op").isNull || col("op") =!= "D")
        .select(col("k"),
          coalesce(col("new_bal"), col("bal")).cast("double").as("bal"))
        .orderBy("k")
    },

    // Bounded top-k per key via the CUSTOM physical operator
    // (graft.plans.TopKPerKey: logical node → injected planner
    // strategy → partial/final exec pair). The declarative
    // row_number()<=k form shuffles and sorts EVERY row of every
    // group; the operator's map-side heaps keep k per key per
    // partition, so only k·partitions rows per key reach the
    // exchange — the shape a hot key needs at 100 TB. The oracle is
    // the declarative form: both must agree row-for-row.
    "q72_topk_per_key" -> { (s, d) =>
      val joined = load(s, d, "orders")
        .join(load(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          col("o_totalprice"))
      graft.plans.TopK.topKPerKey(joined, Seq("seg"),
          Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
        .orderBy("seg", "o_orderkey")
    },

    // Observed metrics (Dataset.observe / Observation): pipeline
    // telemetry accumulated ON the pass the query already makes — no
    // second scan, which is how a 100 TB ingest job affords row
    // counters and quality tallies. The observed values become the
    // result row, gated against plain aggregation SQL.
    "q73_observe" -> { (s, d) =>
      val obs = new org.apache.spark.sql.Observation()
      val li = load(s, d, "lineitem")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(28,4)")).as("sum_qty"),
          count(when(col("l_returnflag") === "R", 1)).as("n_returned"))
      li.count() // one action drives the scan; metrics ride along
      val m = obs.get
      val sp = s
      import sp.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
          m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue,
          m("n_returned").asInstanceOf[Long]))
        .toDF("n_rows", "sum_qty", "n_returned")
        .select(col("n_rows"), round(col("sum_qty"), 2).as("sum_qty"),
          col("n_returned"))
    },

    // SQL/JSON path over the events.props jsonb column (§2.8:
    // jsonb_path_exists / jsonb_path_query_first, the reference's @?
    // and jsonb_path_* surface, jsonpath_exec.c). The path filter —
    // `$.k ? (@ >= $min)` with a vars object — and the value
    // extraction both run inside whole-stage codegen (one static call
    // per row), and the WHERE pushes the row pruning into the scan
    // stage like any other predicate.
    "q74_jsonpath_filter" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "events")
        .where(J.pathExists(col("props"), "$.k ? (@ >= $min)",
          """{"min": 80}"""))
        .select(col("event_id"),
          J.pathQueryFirst(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    },

    // Boolean path expressions (`$.k > 50` — the reference's @@ /
    // jsonb_path_match) driving an aggregate.
    "q75_jsonpath_match_agg" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "events")
        .where(J.pathMatch(col("props"), "$.k > 50"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Constructor + SRF round trip (jsonb_build_object → jsonb_each_text
    // exploded, the reference's setof (key, value text) rows;
    // jsonfuncs.c each_worker_jsonb(as_text)). The oracle rebuilds the
    // same rows from first principles, so key naming, value-to-text
    // rules and row multiplicity are all pinned.
    "q76_each_text_srf" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "orders")
        .select(explode(J.eachText(J.buildObject(
          "st" -> col("o_orderstatus"),
          "cust" -> col("o_custkey")))).as("e"))
        .select(J.asText(J.getKey(col("e"), "key")).as("k"),
          J.asText(J.getKey(col("e"), "value")).as("v"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), countDistinct("v").as("nv"))
        .orderBy("k")
    },

    // jsonb_path_query as a set: per-item rows via explode (the
    // reference streams items into a tuplestore; jsonpath_exec.c).
    "q77_jsonpath_srf" -> { (s, d) =>
      import graft.expr.J
      load(s, d, "events")
        .select(explode(J.pathQueryRows(col("props"),
          "$.k ? (@ % 2 == 0)")).as("kj"))
        .agg(count(lit(1)).as("n"), sum(J.toLong(col("kj"))).as("s"))
    },

    // NOT IN 3VL null semantics (§2.2 NullTest / §2.3 anti variants):
    // a NULL in the subquery poisons NOT IN (never TRUE), while the
    // null-free form is a plain null-aware anti join — both counted
    // side by side. Spark plans the second as NullAwareAntiJoin.
    "q67_not_in_nulls" -> { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """SELECT
          |  (SELECT count(*) FROM customer
          |   WHERE c_custkey NOT IN
          |     (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
          |    AS no_f_orders,
          |  (SELECT count(*) FROM customer
          |   WHERE c_custkey NOT IN
          |     (SELECT CASE WHEN o_orderstatus = 'F' THEN o_custkey END
          |      FROM orders))
          |    AS with_nulls""".stripMargin)
    },

    // UNNEST WITH ORDINALITY / SRF position (§2.1 FunctionScan):
    // posexplode carries the element position; per-position vocabulary
    // stats over the part-name word lists.
    "q68_unnest_ordinality" -> { (s, d) =>
      load(s, d, "part")
        .select(posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), countDistinct("word").as("nw"))
        .orderBy("pos")
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity > 45 AND l_discount <= 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS sum_base_price,
        |  CAST(round(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) / count(*)
        |    AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_join_multiway" ->
      """SELECT r_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q05_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 0), 2) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q08_full_outer" ->
      """WITH hi AS (SELECT s_nationkey AS nk, count(*) AS n_hi
        |  FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey),
        |lo AS (SELECT s_nationkey AS nk, count(*) AS n_lo
        |  FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey)
        |SELECT coalesce(hi.nk, lo.nk) AS nk,
        |  coalesce(n_hi, 0) AS n_hi, coalesce(n_lo, 0) AS n_lo
        |FROM hi FULL OUTER JOIN lo ON hi.nk = lo.nk ORDER BY nk""".stripMargin,
    "q09_distinct_agg" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q10_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q11_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "q12_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey""".stripMargin,
    "q13_window_analytic" ->
      """SELECT o_custkey, o_orderkey,
        |  coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_key,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q14_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q15_offset_limit" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |ORDER BY o_orderkey LIMIT 15 OFFSET 10""".stripMargin,
    "q16_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q17_union_all" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT c_custkey AS k FROM customer WHERE c_acctbal < -900
        |ORDER BY k""".stripMargin,
    "q18_intersect" ->
      """SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "q19_except" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 8000
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
        |ORDER BY k""".stripMargin,
    "q55_intersect_all" ->
      """SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000
        |INTERSECT ALL
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "q56_except_all" ->
      """SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000
        |EXCEPT ALL
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "q20_in_subquery" ->
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey IN (SELECT s_nationkey FROM supplier
        |  WHERE s_acctbal > 9000)
        |ORDER BY n_nationkey""".stripMargin,
    "q21_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.8
        |ORDER BY o_orderkey""".stripMargin,
    "q22_values_join" ->
      """SELECT r_regionkey, r_name FROM region
        |JOIN (VALUES ('AMERICA'), ('ASIA')) AS v(r_name2)
        |  ON r_name = r_name2
        |ORDER BY r_regionkey""".stripMargin,
    "q23_explode" ->
      """SELECT doc_id, count(*) AS n_words
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |      FROM documents WHERE doc_id < 50) t
        |WHERE length(word) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q24_case_null" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
        |  WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  c_acctbal IS NULL AS bal_is_null, count(*) AS n
        |FROM customer GROUP BY 1, 2 ORDER BY band, bal_is_null""".stripMargin,
    "q25_string_fns" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        |  substring(p_name, 1, 5) AS sub5, length(p_name) AS len,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
        |  reverse(p_type) AS rev,
        |  trim('  ' || p_brand || ' ') AS trimmed,
        |  starts_with(p_name, 'a') AS sw,
        |  contains(p_name, 're') AS ct
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,
    "q26_math_fns" ->
      """SELECT s_suppkey, round(abs(s_acctbal), 2) AS abs_bal,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
        |  CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
        |  round(sqrt(abs(s_acctbal)), 4) AS sqrt_bal,
        |  CAST(sign(s_acctbal) AS INT) AS sign_bal,
        |  s_suppkey % 7 AS mod7,
        |  round(pow(s_suppkey, 2), 1) AS pow2,
        |  round(ln(s_suppkey + 1), 4) AS ln1
        |FROM supplier WHERE s_suppkey <= 200 ORDER BY s_suppkey""".stripMargin,
    "q27_time_bucket" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q28_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY 1 ORDER BY k""".stripMargin,
    "q29_groupjoin" ->
      """SELECT n_name,
        |  coalesce(CAST(round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,4)))
        |    / count(c_custkey) AS DECIMAL(28,6)), 2) AS DOUBLE), 0) AS avg_bal,
        |  count(c_custkey) AS n_cust
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q30_sample_deterministic" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,
    "q37_skew_salted_join" ->
      """SELECT r_name, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE), 2) AS qty
        |FROM (SELECT *, CASE WHEN l_orderkey % 10 < 8 THEN 0
        |        ELSE l_orderkey % 10 END AS hot_key FROM lineitem) li
        |JOIN region ON hot_key = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q38_asof_join" ->
      """WITH j AS (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY CAST(o.o_orderdate AS DATE) DESC NULLS LAST,
        |               o.o_orderkey DESC NULLS LAST) AS rn
        |  FROM (SELECT event_id, user_id, CAST(ts AS DATE) AS ev_day
        |        FROM events WHERE event_id < 2000) e
        |  LEFT JOIN orders o ON e.user_id = o.o_custkey
        |    AND CAST(o.o_orderdate AS DATE) <= e.ev_day)
        |SELECT event_id, o_orderkey AS asof_order
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q39_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE user_id < 50),
        |g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM f),
        |h AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |k AS (SELECT user_id, sess, count(*) AS n_events
        |      FROM h GROUP BY user_id, sess)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(max(n_events) AS BIGINT) AS max_sess_len
        |FROM k GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q33_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pri, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY st, pri""".stripMargin,
    "q34_listagg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q35_window_range" ->
      """SELECT o_orderkey, o_orderstatus,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_near
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q36_percent_rank" ->
      """SELECT o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  ntile(4) OVER w AS quartile
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q40_with_ties" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |    rank() OVER (ORDER BY l_quantity DESC) AS rk
        |  FROM lineitem WHERE l_orderkey < 100) t
        |WHERE rk <= 5
        |ORDER BY l_quantity DESC, l_orderkey, l_linenumber""".stripMargin,
    "q41_groups_frame" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(28,6)) AS v,
        |    date_trunc('hour', ts) AS bkt
        |  FROM events WHERE user_id < 20),
        |d AS (SELECT e.*, dense_rank() OVER
        |        (PARTITION BY user_id ORDER BY bkt) AS dr FROM e)
        |SELECT user_id, event_id,
        |  CAST(sum(v) OVER (PARTITION BY user_id ORDER BY dr
        |    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS grp_sum
        |FROM d ORDER BY user_id, event_id""".stripMargin,
    "q74_jsonpath_filter" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 80
        |ORDER BY event_id""".stripMargin,
    "q75_jsonpath_match_agg" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q76_each_text_srf" ->
      """SELECT k, count(*) AS n, count(DISTINCT v) AS nv FROM (
        |  SELECT 'st' AS k, o_orderstatus AS v FROM orders
        |  UNION ALL SELECT 'cust', CAST(o_custkey AS VARCHAR) FROM orders) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q77_jsonpath_srf" ->
      """SELECT count(*) AS n, CAST(sum(k) AS BIGINT) AS s FROM (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events) t
        |WHERE k % 2 = 0""".stripMargin,
    "q31_jsonb_get" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) >= 80
        |ORDER BY event_id""".stripMargin,
    "q32_jsonb_filter_agg" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT) + 1)
        |    AS BIGINT) AS sum_k1
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_frame_exclude" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW), 2)
        |    AS DOUBLE) AS excl_sum
        |FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""".stripMargin,
    "q43_percentile" ->
      """SELECT o_orderstatus,
        |  CAST(round(CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p25,
        |  CAST(round(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p50,
        |  CAST(round(CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q44_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q45_unpivot" ->
      """SELECT s_suppkey, 'acctbal' AS metric, CAST(s_acctbal AS DOUBLE) AS val
        |FROM supplier WHERE s_suppkey <= 100
        |UNION ALL
        |SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE)
        |FROM supplier WHERE s_suppkey <= 100
        |ORDER BY s_suppkey, metric""".stripMargin,
    "q46_date_fns" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
    "q47_histogram" ->
      """SELECT CAST(floor((c_acctbal - (-1000.0)) / 1000.0) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q54_nulls_order" ->
      """WITH big AS (
        |  SELECT o_custkey,
        |    CAST(round(max(CAST(o_totalprice AS DECIMAL(28,4))), 2) AS DOUBLE)
        |      AS top_order
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey)
        |SELECT c_custkey, top_order
        |FROM customer LEFT JOIN big ON c_custkey = o_custkey
        |WHERE c_custkey <= 300
        |ORDER BY top_order ASC NULLS FIRST, c_custkey LIMIT 100""".stripMargin,
    "q53_window_nav" ->
      """SELECT o_orderkey, o_orderstatus,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS last_key,
        |  nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS third_key
        |FROM orders WHERE o_orderkey <= 1000
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q52_stat_aggs" ->
      """SELECT l_returnflag,
        |  CAST(round(CAST(corr(l_quantity, l_extendedprice) AS DECIMAL(28,8)), 6) AS DOUBLE) AS r,
        |  CAST(round(CAST(covar_samp(l_quantity, l_discount) AS DECIMAL(28,8)), 6) AS DOUBLE) AS cs,
        |  CAST(round(CAST(covar_pop(l_quantity, l_discount) AS DECIMAL(28,8)), 6) AS DOUBLE) AS cp,
        |  CAST(round(CAST(regr_slope(l_extendedprice, l_quantity) AS DECIMAL(28,8)), 4) AS DOUBLE) AS slope
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q51_recursive_cte" ->
      """WITH RECURSIVE up(key, anc) AS (
        |  SELECT c_custkey, 1000000 + c_nationkey FROM customer
        |  UNION ALL
        |  SELECT up.key, 2000000 + n_regionkey FROM up
        |    JOIN nation ON up.anc = 1000000 + n_nationkey)
        |SELECT anc, count(*) AS n FROM up
        |GROUP BY anc ORDER BY anc""".stripMargin,
    "q49_division" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (SELECT DISTINCT o_orderstatus FROM orders) s
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderstatus = s.o_orderstatus))
        |ORDER BY c_custkey""".stripMargin,
    "q50_gapfill" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type
        |  FROM events WHERE user_id < 5),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |d AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |c AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT t.event_type, d.day, coalesce(c.n, 0) AS n
        |FROM t CROSS JOIN d
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day
        |ORDER BY t.event_type, d.day""".stripMargin,
    "q48_lateral_topn" ->
      """SELECT r.r_regionkey, l.n_name, l.total
        |FROM region r, LATERAL (
        |  SELECT n_name,
        |    CAST(round(sum(CAST(s_acctbal AS DECIMAL(28,4))), 2) AS DOUBLE) AS total
        |  FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = r.r_regionkey
        |  GROUP BY n_name
        |  ORDER BY sum(CAST(s_acctbal AS DECIMAL(28,4))) DESC, n_name LIMIT 2) l
        |ORDER BY r_regionkey, total DESC, n_name""".stripMargin,
    "q57_filtered_agg" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  bool_or(o_orderstatus = 'F') AS any_f,
        |  bool_and(o_totalprice > 1000) AS all_gt_1k,
        |  bit_and(o_orderkey % 4096) AS k_and,
        |  bit_or(o_orderkey % 4096) AS k_or,
        |  bit_xor(o_orderkey % 4096) AS k_xor
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q58_mode_percentile" ->
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |c AS (SELECT flag, q, count(*) AS n FROM li GROUP BY 1, 2),
        |m AS (SELECT flag, q AS mode_q,
        |    row_number() OVER (PARTITION BY flag ORDER BY n DESC, q) AS rn
        |  FROM c),
        |cd AS (SELECT flag, q,
        |    cume_dist() OVER (PARTITION BY flag ORDER BY q) AS cd FROM li),
        |p AS (SELECT flag,
        |    min(CASE WHEN cd >= 0.5 THEN q END) AS p50,
        |    min(CASE WHEN cd >= 0.9 THEN q END) AS p90
        |  FROM cd GROUP BY flag)
        |SELECT m.flag, m.mode_q, p.p50, p.p90
        |FROM m JOIN p ON m.flag = p.flag WHERE m.rn = 1
        |ORDER BY m.flag""".stripMargin,
    "q59_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS od
        |FROM orders WHERE o_custkey < 300
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin,
    "q60_not_exists_correlated" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 30)
        |ORDER BY c_custkey""".stripMargin,
    "q61_ffill_ignore_nulls" ->
      """SELECT user_id, event_id, event_type,
        |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS last_purchase
        |FROM events WHERE user_id < 50
        |ORDER BY user_id, event_id""".stripMargin,
    "q62_regexp_groups" ->
      """SELECT regexp_extract(p_name, '^(\w+) (\w+)$', 1) AS color,
        |  count(*) AS n,
        |  count(DISTINCT regexp_extract(p_name, '^(\w+) (\w+)$', 2))
        |    AS n_objects
        |FROM part WHERE regexp_matches(p_name, '^\w+ \w+$')
        |GROUP BY color ORDER BY color""".stripMargin,
    "q63_interval_join" ->
      """WITH w(win, lo, hi) AS (VALUES
        |  ('w1', TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
        |  ('w2', TIMESTAMP '2024-01-15 12:00:00', TIMESTAMP '2024-01-17 00:00:00'),
        |  ('w3', TIMESTAMP '2024-01-24 06:00:00', TIMESTAMP '2024-01-28 00:00:00'))
        |SELECT win, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS total_value
        |FROM events JOIN w ON ts >= lo AND ts < hi
        |GROUP BY win ORDER BY win""".stripMargin,
    "q64_listagg_ordered" ->
      """SELECT c_nationkey,
        |  string_agg(c_name, ',' ORDER BY c_acctbal, c_name) AS names
        |FROM customer WHERE c_custkey <= 60
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q65_grouping_fn" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pri,
        |  grouping_id(o_orderstatus, o_orderpriority) AS gid,
        |  count(*) AS n
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY st, pri, gid""".stripMargin,
    "q66_time_range_frame" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE), 2)
        |    AS v_1h
        |FROM events WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q70_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
        |SELECT v.user_id, epoch_us(v_ts) AS v_us, epoch_us(c_ts) AS c_us,
        |  epoch_us(p_ts) AS p_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin,
    "q71_upsert" ->
      """WITH snap AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
        |mx AS (SELECT o_custkey, arg_max(o_totalprice, o_orderkey) AS new_bal
        |  FROM orders GROUP BY 1),
        |ch AS (
        |  SELECT o_custkey AS k, new_bal,
        |    CASE WHEN o_custkey % 7 = 0 THEN 'D' ELSE 'U' END AS op FROM mx
        |  UNION ALL
        |  SELECT o_custkey + 200000 AS k, new_bal, 'I' FROM mx
        |  WHERE (o_custkey + 200000) % 7 <> 0)
        |SELECT coalesce(snap.k, ch.k) AS k,
        |  CAST(coalesce(ch.new_bal, snap.bal) AS DOUBLE) AS bal
        |FROM snap FULL OUTER JOIN ch ON snap.k = ch.k
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY k""".stripMargin,
    "q73_observe" ->
      """SELECT count(*) AS n_rows,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_qty,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned
        |FROM lineitem""".stripMargin,
    "q72_topk_per_key" ->
      """SELECT seg, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment AS seg, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rn <= 3 ORDER BY seg, o_orderkey""".stripMargin,
    "q69_window_count_distinct" ->
      """SELECT event_id, user_id,
        |  CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id) AS INT)
        |    AS nd
        |FROM events WHERE user_id < 200 ORDER BY event_id""".stripMargin,
    "q67_not_in_nulls" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |    AS no_f_orders,
        |  (SELECT count(*) FROM customer
        |   WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_orderstatus = 'F' THEN o_custkey END
        |      FROM orders))
        |    AS with_nulls""".stripMargin,
    "q68_unnest_ordinality" ->
      """SELECT i - 1 AS pos, count(*) AS n, count(DISTINCT l[i]) AS nw
        |FROM (SELECT string_split(p_name, ' ') AS l FROM part) t
        |JOIN (SELECT unnest(generate_series(1, 32)) AS i) s ON i <= len(l)
        |GROUP BY 1 ORDER BY pos""".stripMargin
  )
}
