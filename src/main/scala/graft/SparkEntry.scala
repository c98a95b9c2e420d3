package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query naming: `hll_*` exercise the reference's own operator surface
  * (SURVEY.md §2a — sketch build/merge/finalize/accuracy); `q_*` exercise the
  * standard relational categories (§2b) with exact DuckDB oracles; `dd_*`,
  * `sim_*`, `tx_*` are the training-data-pipeline operators (dedup,
  * similarity, text analysis).
  *
  * Determinism rules: every oracle-checked query sorts on a unique key and
  * rounds floating aggregates, so the DuckDB hash-compare is stable. HLL
  * estimate queries have no SQL oracle (DuckDB's approx_count_distinct is a
  * different sketch) — each is instead paired with an exact query, and the
  * estimates themselves are golden-locked in the ScalaTest suites.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")


  /** `events.ts` has shipped in two encodings across testdata generations:
    * parquet `timestamp[us]` (current — reads directly as a Spark timestamp)
    * and nanosecond-precision int64 (older — only readable via the
    * nanosAsLong legacy conf, then `/1000` to micros). Branch on the dtype
    * the scan actually produced so both generations decode to the same
    * microsecond timestamp column.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ->LTZ cast below reinterprets wall-clock values in the session
    // timezone; pin UTC here (alongside nanosAsLong) so the conversion is
    // value-identical to the legacy long-nanos path on ANY host, not just
    // ones whose session happens to run UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ =>
        // already a timestamp; parquet [us] not-UTC-adjusted reads as
        // TIMESTAMP_NTZ — cast to TIMESTAMP (LTZ) so downstream queries see
        // the same type the legacy long-nanos path produced
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Flagship: approximate + exact distinct users per event type on sf0.001 —
    * the reference's EP2 + EP3 dataflow (HLL/examples.py:56-83) as one
    * Catalyst plan. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = events(spark, "/root/testdata/sf0.001")
    ev.groupBy(col("event_type"))
      .agg(
        GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Parallelism-guarded hash spread (r15, guide §2.1/§2.5): repartition
    * `df` by `key` ONLY when its scan actually arrives narrower than the
    * session's core count. The demo parquet is one row group, so every
    * scan is ONE task and the heavy scan-fused work downstream serializes
    * — the spread fixes that for the price of one shuffle. At production
    * scale the scan is already thousands of tasks, and an unconditional
    * repartition would insert a full raw-row shuffle AHEAD of the
    * size-reducing partial aggregates it feeds — guide §2.1's first rule
    * inverted — so the guard ([[spreadTarget]]) turns it off.
    */
  private def spreadIfNarrow(
      df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    spreadTarget(df).fold(df)(df.repartition(_, key))

  /** The documents id list REPARTITIONED for fabrication parallelism:
    * the small parquet scans as ONE partition, so every
    * fabricate-and-extract fixture downstream would run single-threaded
    * (and DID — the r12 lap bisect measured the whole document family
    * serialized on one core). An explicit numPartitions repartition —
    * user-specified, so AQE must respect it — spreads the expensive
    * per-id work across the executor threads for the price of shuffling
    * 8-byte ids. At production scale inputs arrive multi-partition and
    * the exchange deletes itself: the repartition is guarded on the
    * scan's actual parallelism (r15), same rule as [[spreadIfNarrow]];
    * in the demo corpus the fabrication cost is the honest workload
    * being parallelized.
    */
  private def docIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
    spreadTarget(ids).fold(ids.as[Long])(ids.as[Long].repartition(_))
  }

  /** The session's core count (at least 2) when `df` arrives narrower than
    * that, else None. The partition count is read off the planned RDD,
    * which runs no job only while the plan holds no Exchange: under AQE,
    * `toRdd` first materializes every shuffle and broadcast stage. The
    * check reads the prepared plan, so it also sees the exchanges that
    * EnsureRequirements adds for an aggregate or a join, not only an
    * explicit repartition.
    */
  private[graft] def spreadTarget(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    require(plan.find(_.isInstanceOf[Exchange]).isEmpty,
      s"partition probe needs an exchange-free plan, got:\n$plan")
    val target = math.max(2, df.sparkSession.sparkContext.defaultParallelism)
    if (df.queryExecution.toRdd.getNumPartitions >= target) None else Some(target)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference operator surface (SURVEY.md §2a) ----

    // ops #1-5,#10,#12,#13,#14: build sketch, finalize, pair with exact count
    // and accuracy metrics (EP2+EP3, HLL/examples.py:56-83).
    // Oracle shape for every estimate query: the estimate itself is a custom
    // sketch DuckDB cannot reproduce, so the query emits the EXACT side (an
    // oracle-computable value) plus a tolerance boolean over the estimate —
    // deterministic (fixed SHA-1, fixed data), so the boolean is a hard
    // invariant, not a flaky statistical check. The raw estimates stay
    // golden-locked (exact doubles) in the ScalaTest suites.
    "hll_users_total" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(
          col("exact_users"),
          (abs(col("_est") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
    }),

    // op #12 grouped: one sketch per group under partial/final agg
    "hll_users_by_type" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(
          GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("_est") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
        .orderBy(col("event_type"))
    }),

    // Engine-portable sketch interchange: hll_export flattens each sketch
    // into PLAIN relational rows (k, bits, hash, register idx/rho) — the
    // sparse wire format as data, storable in any warehouse column and
    // consumable by any engine — and hll_import re-assembles those rows
    // (order-insensitive, max-folding) into a sketch whose estimate matches
    // the original EXACTLY. This is the cross-system hand-off path: sketches
    // built here can leave as rows and come back mergeable.
    "hll_wire_roundtrip" -> ((s, dir) => {
      val ev = events(s, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("_sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val flat = sk.select(col("event_type"),
          GraftFunctions.hll_export(col("_sk")).as("_w"))
        .select(col("event_type"), col("_w.k").as("_k"),
          col("_w.bits").as("_b"), col("_w.hash").as("_h"),
          explode(col("_w.regs")).as("_r"))
      val back = flat
        .groupBy(col("event_type"), col("_k"), col("_b"), col("_h"))
        .agg(collect_list(struct(col("_r.idx").as("idx"),
          col("_r.rho").as("rho"))).as("_regs"))
        .select(col("event_type"), GraftFunctions.hll_import(
          struct(col("_k").as("k"), col("_b").as("bits"),
            col("_h").as("hash"), col("_regs").as("regs"))).as("_sk2"))
      sk.join(back, "event_type")
        .select(col("event_type"), col("exact_users"),
          (GraftFunctions.hll_estimate(col("_sk2")) ===
            GraftFunctions.hll_estimate(col("_sk"))).as("roundtrip_exact"),
          (abs(GraftFunctions.hll_estimate(col("_sk")) - col("exact_users"))
            / col("exact_users") <= 0.05).as("est_ok"))
        .orderBy(col("event_type"))
    }),

    // ops #8,#9,#11: sketches as stored values, re-aggregated (daily ->
    // total). merge_ok asserts the monoid law end-to-end: the union of the
    // daily sketches must estimate EXACTLY what one direct sketch does.
    "hll_sketch_reagg" -> ((s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val reagg = daily.agg(
        GraftFunctions.hll_estimate(GraftFunctions.hll_union_agg(col("sk"))).as("_reagg"),
        count(lit(1)).as("n_days"))
      val direct = ev.agg(
        GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_direct"),
        countDistinct(col("user_id")).as("exact_users"))
      reagg.crossJoin(direct).select(
        col("n_days"), col("exact_users"),
        (col("_reagg") === col("_direct")).as("merge_ok"),
        (abs(col("_reagg") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
    }),

    // op #5 (32-bit finalizer) + #6 (64-bit) side by side on the same
    // column; sketch and exact sides split to avoid the Expand-based
    // distinct rewrite (see hll_distinct_pairs)
    "hll_both_widths" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = li.agg(
        GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12, 32).as("_est32"),
        GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12, 64).as("_est64"))
      val exact = li.agg(countDistinct(col("l_partkey")).as("exact"))
      exact.crossJoin(est)
        .select(col("exact"),
          (abs(col("_est32") - col("exact")) / col("exact") <= 0.05).as("est32_ok"),
          (abs(col("_est64") - col("exact")) / col("exact") <= 0.05).as("est64_ok"))
    }),

    // grouped distinct parts per returnflag: estimate + exact, as separate
    // aggregations joined on the group key (same Expand-avoidance as
    // hll_distinct_pairs below: the sketch side stays map-side partial, the
    // exact side shuffles partially-deduped keys once; the join is 3 rows)
    "hll_parts_by_returnflag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12).as("_est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
      exact.join(broadcast(est), "l_returnflag")
        .select(col("l_returnflag"), col("exact"),
          (abs(col("_est") - col("exact")) / col("exact") <= 0.05).as("est_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // op #7 metadata: error bound surfaced from a stored sketch. The bound
    // itself is the closed-form 1.04/sqrt(m) (oracle-computable); the
    // estimate check uses 3x that bound (p=10 sits in the reference's
    // inherited mid-range-bias band, see BASELINE.md).
    "hll_error_bound" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 10).as("sk"),
          countDistinct(col("user_id")).as("_exact"))
        .select(
          round(GraftFunctions.hll_error(col("sk")), 6).as("rel_std_err"),
          (abs(GraftFunctions.hll_estimate(col("sk")) - col("_exact")) / col("_exact")
            <= GraftFunctions.hll_error(col("sk")) * 3).as("est_ok"))
    }),

    // approximate top-k (Misra-Gries); capacity >= distinct -> exact, so
    // the exploded output is oracle-checkable against GROUP BY ... LIMIT
    "hll_top_event_types" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(GraftFunctions.approx_top_k(col("event_type"), 5, 64).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
    }),
    // Count-Min sketch in its exact regime (width 2048 >> distinct event
    // types): one mergeable frequency sketch answers point lookups for
    // every key — the counts must equal the exact GROUP BY.
    "hll_cms_event_counts" -> ((s, dir) => {
      val ev = events(s, dir)
      val sk = ev.agg(GraftFunctions.cms_sketch_agg(col("event_type")).as("sk"))
      ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(sk))
        .select(col("event_type"),
          GraftFunctions.cms_query(col("sk"), col("event_type")).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // composite-key distinct: sketch over a canonical key encoding, paired
    // with the exact multi-column count. The two sides run as SEPARATE
    // aggregations joined on their 1-row results: mixing a distinct
    // aggregate with the sketch in one agg triggers Catalyst's Expand-based
    // distinct rewrite, which doubles every input row through the exchange —
    // split, the sketch side is pure map-side partial aggregation (only
    // sketch bytes move) and the exact side shuffles its partially-deduped
    // keys once. Two column-pruned scans cost less than one doubled shuffle,
    // here and at 100 TB.
    "hll_distinct_pairs" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // separator prevents cross-column collisions ("12|34" vs "123|4");
      // k chosen so n/m > 5 stays clear of the reference's inherited
      // mid-range bias band (see BASELINE.md accuracy caveat)
      val key = concat_ws("|", col("l_partkey"), col("l_suppkey"))
      val est = li.agg(GraftFunctions.hll_cardinality(key, 1 << 12).as("_est"))
      val exact = li.agg(
        countDistinct(col("l_partkey"), col("l_suppkey")).as("exact_pairs"))
      exact.crossJoin(est)
        .select(col("exact_pairs"),
          (abs(col("_est") - col("exact_pairs")) / col("exact_pairs") <= 0.05).as("est_ok"))
    }),

    // ---- standard relational categories (SURVEY.md §2b), DuckDB oracles ----

    // scan + filter + group-agg + sort (TPC-H Q1 shape)
    "q_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // exact distinct (op #13's shuffle dedup) — oracle-checked
    "q_exact_distinct_users" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(countDistinct(col("user_id")).as("exact_users"))
    }),

    "q_exact_users_by_type" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }),

    // join chain + group-agg: revenue per nation (broadcast-able dims)
    "q_revenue_by_nation" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),

    // window function: top-3 orders per customer by price
    "q_top_orders_per_cust" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
    }),

    // range-frame window: revenue within a +/-5-day value window around
    // each order date per customer (RANGE BETWEEN, not ROWS BETWEEN)
    "q_range_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val day = 86400L
      // o_orderdate arrives as TIMESTAMP_NTZ (parquet ms, not UTC-adjusted);
      // NTZ won't cast straight to long — hop through TIMESTAMP first
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-5 * day, 5 * day)
      o.select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("nearby_revenue"),
          count(lit(1)).over(w).as("nearby_orders"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // physical layout for data skipping: Z-order (Morton interleave of
    // custkey x totalprice via the native interleave_bits expression) vs a
    // single-dim sort, compared on the metric min/max pruning actually
    // uses — the per-bucket span of each dimension. The sorted layout
    // clusters custkey perfectly and leaves price spans at ~full range;
    // the z-order layout bounds BOTH. The oracle re-derives the interleave
    // bit-for-bit in SQL (bit j of dim i lands at j*n+i, matching
    // InterleaveBits).
    "q_zorder_layout" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val x = col("o_custkey").bitwiseAND(lit(0xffffL))
      val y = floor(col("o_totalprice")).cast("long").bitwiseAND(lit(0xffffL))
      def z(cols: Seq[org.apache.spark.sql.Column]) =
        org.apache.spark.sql.graftshim.GraftShims.column(
          graft.functions.InterleaveBits(
            cols.map(org.apache.spark.sql.graftshim.GraftShims.expression), 16))
      val base = o.select(x.as("x"), y.as("y"))
        .withColumn("zb", shiftright(z(Seq(col("x"), col("y"))), 27))
        .withColumn("sb", shiftright(col("x"), 6))
      def spans(df: DataFrame, bucket: String, label: String) =
        df.groupBy(col(bucket))
          .agg((max(col("x")) - min(col("x")) + 1).as("_xs"),
            (max(col("y")) - min(col("y")) + 1).as("_ys"))
          .agg(round(avg(col("_xs")) / 65536.0, 4).as("avg_x_span"),
            round(avg(col("_ys")) / 65536.0, 4).as("avg_y_span"),
            count(lit(1)).as("n_buckets"))
          .select(lit(label).as("layout"), col("n_buckets"),
            col("avg_x_span"), col("avg_y_span"))
      spans(base, "zb", "zorder").unionByName(spans(base, "sb", "custkey_sorted"))
        .orderBy(col("layout"))
    }),

    // sort + limit (top-k)
    "q_top20_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // semi/anti joins: customers with and without orders
    "q_cust_order_existence" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("bucket"), col("n"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("bucket"), col("n"))
      withO.union(withoutO).orderBy(col("bucket"))
    }),

    // projection + filter pushdown to parquet
    "q_filter_pushdown" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // rollup (grouping sets family)
    "q_rollup_order_status" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // skew-safe exact distinct: value-hash salting splits a hot group's
    // dedup across cells whose disjoint counts sum exactly (oracle = plain
    // COUNT(DISTINCT)) — the rewrite used when one group dominates at scale
    "q_salted_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.SkewTools.saltedCountDistinct(
          li, Seq("l_returnflag"), "l_partkey", buckets = 32)
        .withColumnRenamed("l_partkey_distinct", "n_parts")
        .orderBy(col("l_returnflag"))
    }),
    // Forced-salt skewed join: lineitem × part with the small side replicated
    // 16× and the fact side salted by row hash — the manual fallback when
    // AQE's skew split can't apply. Result must equal the plain join.
    "q_salted_join" -> ((s, dir) => {
      // project BEFORE the salt (guide §2.3): saltedJoin hashes a struct of
      // every big-side column, so handing it full lineitem rows forced a
      // 16-column ReadSchema and xxhash64 over all of them — the r14
      // profile's 0.87 s single fat task. Only the join key and the
      // aggregated measure survive downstream; the salt stays deterministic
      // per row and the join/aggregate result is salt-independent.
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val p = t(s, dir, "part")
      graft.operators.SkewTools.saltedJoin(li, p, "l_partkey", "p_partkey", 16)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("p_brand"))
    }),
    // Sketch-based join-size estimation (JoinStats): predicts the
    // lineitem⋈orders output from one bucketed-HLL pass per side — the
    // "should I even run this join" planning primitive. The exact join here
    // exists only to verify the estimate.
    "q_join_size_estimate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val est = graft.operators.JoinStats.equiJoinSizeEstimate(
        li, "l_orderkey", o, "o_orderkey")
      val exact = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_rows"))
      est.crossJoin(exact).select(col("exact_rows"),
        (abs(col("est_rows") - col("exact_rows")) / col("exact_rows") <= 0.1)
          .as("est_ok"))
    }),
    // MERGE/upsert: re-priced delta batch folded into the orders snapshot,
    // last-writer-wins per key (delta beats snapshot on the version tie).
    "q_upsert_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // re-price via floor (bit-identical across engines, unlike round,
      // which Spark applies to the shortest-decimal repr) and sum in
      // decimal space so the total is order-independent and exact
      val delta = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", floor(col("o_totalprice") * 110) / 100)
      graft.operators.Upsert.upsert(o, delta, Seq("o_orderkey"), "o_orderdate")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"),
          sum(when(col("o_orderkey") % 10 === 0, 1L).otherwise(0L)).as("n_updated"))
    }),
    // Snapshot reconciliation (Upsert.snapshotDiff): classify keys as
    // added/removed/changed/unchanged between the orders snapshot and a
    // mutated next version (re-priced tenth, fresh keys, deleted slice).
    "q_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val repriced = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", floor(col("o_totalprice") * 110) / 100)
      val fresh = o.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      val after = graft.operators.Upsert.upsert(
          o, repriced.unionByName(fresh), Seq("o_orderkey"), "o_orderdate")
        .filter(col("o_orderkey") % 17 =!= 3)
      graft.operators.Upsert.snapshotDiff(
          o, after, Seq("o_orderkey"), Seq("o_totalprice"))
        .orderBy(col("change"))
    }),
    // SCD2 history build (Upsert.scd2): three stacked order snapshots —
    // v2 reprices every 10th key (+100.00, exact in both engines), v3
    // additionally flips every 100th key's status — collapse to validity
    // intervals; the summary counts rows per (valid_from, valid_to,
    // is_current). valid_to=0 encodes "open" (null would drift between
    // pandas renderings of nullable ints).
    "q_scd2" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val v1 = o.withColumn("version", lit(1))
      val v2 = o.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
        .withColumn("version", lit(2))
      val v3 = v2.withColumn("o_orderstatus",
          when(col("o_orderkey") % 100 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .withColumn("version", lit(3))
      graft.operators.Upsert.scd2(
          v1.unionByName(v2).unionByName(v3),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"), "version")
        .groupBy(col("valid_from"), coalesce(col("valid_to"), lit(0)).as("valid_to"),
          col("is_current"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("valid_from"), col("valid_to"))
    }),
    // Single-pass column profiling (Profile): nulls/min/max/HLL-distinct for
    // five heterogeneous columns in ONE aggregation — no Expand, no
    // per-column scans. The exact-distinct side here is verification only.
    // Full one-pass profiler: base stats + GK quantiles on the numeric
    // column + MG top values on the categoricals, ONE scan, no Expand.
    // Estimates leave as booleans: distinct within 5%, each quantile's
    // true rank within relErr*n (GK theorem — the returned sample varies
    // with merge order, its rank bound does not), top values exact in the
    // capacity >= distinct regime the DuckDB oracle re-derives.
    "q_profile_deep" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val relErr = 0.01
      // the demo file is one row group, so the sketch-building partial agg
      // fused to the scan runs on ONE task (r14 profile: 1.06 s of the
      // query's 1.62 s CPU on a single task); hash-spreading by the unique
      // key parallelizes it. Result-identical: HLL registers are
      // max-merged, MG is exact in the capacity >= distinct regime with a
      // unique top value at every SF, GK emits rank-bound booleans the
      // theorem guarantees under ANY merge order, min/max/counts exact.
      val oSpread = spreadIfNarrow(o, col("o_orderkey"))
      val prof = graft.operators.Profile.profileDeep(oSpread,
          numeric = Seq("o_totalprice"),
          categorical = Seq("o_orderstatus", "o_orderpriority"),
          k = 1 << 16, relErr = relErr, topCapacity = 64)
        .localCheckpoint() // reused by the rank-check scan below
      val cs = Seq("o_totalprice", "o_orderstatus", "o_orderpriority")
      val exact = o
        .select(cs.map(c => count_distinct(col(c)).as(s"_x_$c")): _*)
        .selectExpr(s"stack(${cs.length}, " +
          cs.map(c => s"'$c', _x_$c").mkString(", ") + ") AS (col_name, _n_exact)")
      val pv = prof.filter(col("col_name") === "o_totalprice")
        .select(col("p25").as("_q25"), col("p50").as("_q50"), col("p75").as("_q75"))
      // _n = NON-NULL count: the GK sketch and the lt/le counters both
      // exclude nulls, so the target rank must be computed in the same
      // population (count(lit(1)) would silently shift it on nullable data)
      val ranks = o.select(col("o_totalprice")).crossJoin(broadcast(pv))
        .agg(count(col("o_totalprice")).as("_n"),
          sum(when(col("o_totalprice") < col("_q25"), 1L).otherwise(0L)).as("_lt25"),
          sum(when(col("o_totalprice") <= col("_q25"), 1L).otherwise(0L)).as("_le25"),
          sum(when(col("o_totalprice") < col("_q50"), 1L).otherwise(0L)).as("_lt50"),
          sum(when(col("o_totalprice") <= col("_q50"), 1L).otherwise(0L)).as("_le50"),
          sum(when(col("o_totalprice") < col("_q75"), 1L).otherwise(0L)).as("_lt75"),
          sum(when(col("o_totalprice") <= col("_q75"), 1L).otherwise(0L)).as("_le75"))
      def rankOk(q: Double, lt: org.apache.spark.sql.Column,
          le: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val rank = ceil(lit(q) * col("_n"))
        val eps = lit(relErr) * col("_n")
        (rank - eps <= le) && (lt + lit(1L) <= rank + eps)
      }
      prof.join(exact, Seq("col_name"))
        .crossJoin(broadcast(ranks))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct_est") - col("_n_exact")) / col("_n_exact") <= 0.05)
            .as("distinct_ok"),
          // 'n/a' sentinels, not NULLs: the two engines' NULL renderings
          // differ under the driver's string-normalized hash compare
          when(col("col_name") === "o_totalprice",
            rankOk(0.25, col("_lt25"), col("_le25")).cast("string"))
            .otherwise("n/a").as("p25_ok"),
          when(col("col_name") === "o_totalprice",
            rankOk(0.50, col("_lt50"), col("_le50")).cast("string"))
            .otherwise("n/a").as("p50_ok"),
          when(col("col_name") === "o_totalprice",
            rankOk(0.75, col("_lt75"), col("_le75")).cast("string"))
            .otherwise("n/a").as("p75_ok"),
          coalesce(col("top_value"), lit("n/a")).as("top_value"),
          coalesce(col("top_n").cast("string"), lit("n/a")).as("top_n"))
        .orderBy(col("col_name"))
    }),

    "q_profile_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cs = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus")
      // k=2^16 keeps every column in the linear-counting regime at sf0.01.
      // Hash-spread before the 5-column HLL pass (one-row-group demo file
      // scans as ONE task — q_profile_deep's comment has the full
      // argument); HLL registers max-merge identically under any
      // partitioning.
      val prof = graft.operators.Profile.profile(
        spreadIfNarrow(o, col("o_orderkey")), cs, k = 1 << 16)
      // Exact verify side: one pruned single-column scan per column (a
      // columnar read proportional to that column), NEVER N count_distincts
      // in one agg — Catalyst plans that as Expand xN, multiplying the scan
      // output into the aggregation exchange at scale.
      val exact = cs.map { c =>
        o.select(col(c)).distinct()
          .agg(count(col(c)).as("n_exact")) // nulls excluded, like the HLL side
          .withColumn("col_name", lit(c))
      }.reduce(_ unionByName _)
      prof.join(broadcast(exact), "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct_est") - col("n_exact")) / col("n_exact") <= 0.05)
            .as("distinct_ok"))
        .orderBy(col("col_name"))
    }),
    // Profile's exactness escape hatch: designated low-cardinality columns
    // get a precise n_distinct from per-column pruned-scan aggregates (one
    // narrow columnar scan each — never the Expand xN shape), broadcast-
    // joined back into the single-pass report; the high-card o_custkey
    // stays estimate-only (null n_distinct). Fully DuckDB-replayable.
    "q_profile_exact" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cs = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      graft.operators.Profile.profile(o, cs, k = 1 << 16,
          exact = Set("o_orderstatus", "o_orderpriority"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"), col("n_distinct"))
        .orderBy(col("col_name"))
    }),
    // ntile + lead window functions: per-segment account-balance deciles
    // with the average gap to the next-ranked customer.
    "q_ntile_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      c.select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
        .withColumn("decile", ntile(10).over(w))
        .withColumn("gap",
          round(lead(col("c_acctbal"), 1).over(w) - col("c_acctbal"), 2))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("lo"),
          round(max(col("c_acctbal")), 2).as("hi"),
          round(avg(col("gap")), 3).as("avg_gap"))
        .orderBy(col("c_mktsegment"), col("decile"))
    }),
    // Correlated scalar subquery: customers whose most expensive order is
    // >= 2x their average — Catalyst decorrelates both subqueries into one
    // aggregate-then-join plan (no per-row re-execution).
    "q_correlated_subquery" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.createOrReplaceTempView("_co_orders")
      c.createOrReplaceTempView("_co_customer")
      s.sql("""
        SELECT c_custkey, c_name,
          (SELECT ROUND(MAX(o_totalprice), 2) FROM _co_orders
           WHERE o_custkey = c_custkey) AS max_price,
          (SELECT ROUND(AVG(o_totalprice), 2) FROM _co_orders
           WHERE o_custkey = c_custkey) AS avg_price
        FROM _co_customer
        WHERE (SELECT MAX(o_totalprice) FROM _co_orders
               WHERE o_custkey = c_custkey)
              >= 2 * (SELECT AVG(o_totalprice) FROM _co_orders
                      WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")
    }),
    // JSON source/sink round-trip through the driver gate: write a typed
    // projection as JSON lines, read it back (schema inference), aggregate.
    "q_json_roundtrip" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_json_rt"
      d.coalesce(2).write.mode("overwrite").json(path)
      s.read.json(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    }),
    // JSON scalar functions over an embedded JSON column (events.props):
    // extract a typed field per row (codegen'd get_json_object — no UDF),
    // aggregate per type. The map-side extract means only (type, k) pairs
    // reach the exchange, never the JSON blobs.
    "q_json_functions" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_parsed"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          round(avg(col("k")), 4).as("k_avg"))
        .orderBy(col("event_type"))
    }),

    // Interval-literal RANGE window frames (SQL-only surface — the
    // DataFrame API's rangeBetween takes longs): trailing-30-day order
    // counts and revenue per customer, the event-time window analytics
    // shape over a timestamp ordering.
    "q_interval_range_window" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_irw_orders")
      s.sql("""
        SELECT o_custkey, date_format(o_orderdate, 'yyyy-MM-dd') AS d,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
          ROUND(SUM(o_totalprice) OVER w, 2) AS rev_trailing_30d
        FROM _irw_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, d, n_trailing_30d""")
    }),

    // MapType construction + explosion with scalar-only outputs: per
    // priority a status→count map (map_from_entries over sorted entries),
    // immediately exploded back to rows plus a map_keys cardinality — the
    // map value itself never crosses the oracle boundary, so the rendering
    // stays engine-portable.
    "q_map_functions" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val m = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_orderpriority"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("o_orderstatus"), col("n"))))).as("status_counts"))
      m.select(col("o_orderpriority"),
          size(col("status_counts")).as("n_statuses"),
          explode(col("status_counts")).as(Seq("status", "n")))
        .select(col("o_orderpriority"), col("status"), col("n"),
          col("n_statuses"))
        .orderBy(col("o_orderpriority"), col("status"))
    }),

    // Join-strategy hints: the MERGE hint forces a SortMergeJoin where the
    // tiny nation side would otherwise broadcast (asserted in
    // PlanQualitySpec) — the manual-override surface for when statistics
    // mislead the planner at scale. Results must be identical either way.
    "q_join_hints" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(n.hint("merge"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_bal"))
        .orderBy(col("n_name"))
    }),

    // GROUP BY ALL (Spark 4 + DuckDB dialect): every non-aggregate select
    // item becomes a grouping key implicitly.
    "q_group_by_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_gba_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM _gba_orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority""")
    }),

    // Generator/lateral surface: collect per-order part arrays, re-explode
    // with position (posexplode), aggregate by position. The oracle
    // re-derives positions via ROW_NUMBER over the same ordering — equal
    // keys make tie order irrelevant to the per-position sums.
    "q_posexplode" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val arrs = l.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
      arrs.select(col("l_orderkey"),
          posexplode(col("parts")).as(Seq("pos", "partkey")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("partkey")).as("sum_parts"))
        .orderBy(col("pos"))
    }),

    // Schema evolution across parquet batches: an early batch without a
    // column and a later batch with it read together via mergeSchema — the
    // union schema appears, missing values surface as NULL. The 100 TB
    // reality: corpora accrete columns over months; readers must span
    // vintages without rewrites. Oracle simulates the same union from the
    // source table.
    "q_merge_schema" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo_" +
        java.lang.ProcessHandle.current().pid()
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/v2")
      val hp = new org.apache.hadoop.fs.Path(base)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderpriority").isNull.cast("long")).as("n_missing_priority"),
          count(col("o_orderpriority")).as("n_with_priority"))
        .orderBy(col("o_orderstatus"))
    }),

    // CSV source/sink round-trip (header + explicit schema on read)
    "q_csv_roundtrip" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_csv_rt"
      o.coalesce(2).write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
        .orderBy(col("o_orderstatus"))
    }),
    // ORC source/sink round-trip — the other mainstream columnar warehouse
    // format (built-in DataSource, same predicate-pushdown surface as
    // parquet). Write a projection, read it back with a pushable filter,
    // aggregate; the oracle computes the same aggregate from the parquet
    // original, so the ORC writer/reader pair must preserve values exactly.
    "q_orc_roundtrip" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_orc_rt_" +
        java.lang.ProcessHandle.current().pid()
      l.coalesce(4).write.mode("overwrite").orc(path)
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.orc(path)
        .filter(col("l_quantity") > 10.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
        .orderBy(col("l_returnflag"))
    }),
    // Hive-style partitioned layout + planning-time pruning: write orders
    // partitioned by status, read back with a partition predicate — the
    // scan's PartitionFilters drop non-matching directories before any file
    // I/O (asserted in PlanQualitySpec). The 100 TB pattern: partition by
    // the coarse axis (date/source), prune whole directories per query.
    "q_partition_pruning" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // per-process path: a second graft process (bench lap + test run on
      // the same host) must not overwrite the directory this one is
      // reading; deleteOnExit keeps repeated runs from accumulating
      // full-table copies in tmp
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_part_orders_" +
        java.lang.ProcessHandle.current().pid()
      graft.operators.Layout.partitionedWrite(o, path, Seq("o_orderstatus"))
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Declarative quality gate: the full constraint suite (null / range /
    // set / regex / uniqueness / row floor) evaluated in one conditional-
    // aggregate scan plus one exact-distinct pass — the oracle recomputes
    // every verdict from raw SQL.
    "q_quality_checks" -> ((s, dir) => {
      import graft.operators.Quality
      Quality.check(t(s, dir, "orders"), Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0, 1000000),
          Quality.OneOf("o_orderstatus", Seq("F", "O", "P")),
          Quality.Matches("o_orderpriority", "^[1-5]-"),
          Quality.Unique(Seq("o_orderkey")),
          Quality.MinRows(100)))
        .orderBy(col("check"), col("target"))
    }),

    // Retention cohort matrix: users bucketed by first-seen week, activity
    // tracked at week offsets — the standard product-analytics rollup. One
    // distinct (user, week) projection feeds both the cohort assignment
    // (min) and the activity join; the matrix aggregation is a single
    // exchange on (cohort, offset).
    "q_retention_cohorts" -> ((s, dir) => {
      val ev = events(s, dir)
      val uw = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct().localCheckpoint()
      val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("cohort"))
      val sizes = first.groupBy(col("cohort")).agg(countDistinct(col("user_id")).as("cohort_size"))
      uw.join(first, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("w"), col("cohort")) / 7).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, "cohort")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_active"), col("cohort_size"),
          round(col("n_active").cast("double") / col("cohort_size"), 4)
            .as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Month-over-month revenue growth: exact decimal-cent monthly sums
    // (partial-agg collapsed before the single exchange), then one lag
    // window over the ~80-row month series.
    "q_mom_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val monthly = o.groupBy(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      // keyless window: WindowExec warns "No Partition Defined", which is
      // harmless over the ~80 months (a literal key is dropped by the
      // optimizer, so it cannot silence the warning)
      monthly
        .withColumn("_prev", lag(col("cents"), 1).over(Window.orderBy(col("month"))))
        .select(col("month"), col("cents"),
          coalesce(
            round((col("cents") - col("_prev")).cast("double") / col("_prev"), 4),
            lit(0.0)).as("mom_growth"))
        .orderBy(col("month"))
    }),

    // Ordered funnel (Funnel.funnel): users completing view -> click ->
    // purchase IN ORDER — chained cumulative windows, one exchange, one
    // per-user sweep. A purchase before the first view must not count.
    "q_funnel" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.Funnel.funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), tieBreakCols = Seq("event_id"))
        .orderBy(col("stage_idx"))
    }),
    // Daily event volumes with a trailing-window z-score — streaming-ish
    // anomaly detection expressed as a batch window query. The window frame
    // is per event_type ordered by day, so the shuffle is one exchange on
    // event_type after a partial-agg-collapsed daily rollup.
    "q_anomaly_zscore" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      // nullif: a constant trailing window (stddev 0) yields NULL, matching
      // DuckDB's non-strict division instead of tripping ANSI div-by-zero
      daily.select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          round((col("n") - avg(col("n")).over(w))
            / nullif(stddev_samp(col("n")).over(w), lit(0.0)), 4)
            .as("zscore"))
        // coalesce: a null z (warm-up frame) is "no spike", and a non-null
        // boolean keeps the oracle hash-compare free of null-render drift
        .withColumn("is_spike", coalesce(col("zscore") > lit(2.5), lit(false)))
        .orderBy(col("event_type"), col("day"))
    }),

    // Time-series gap-fill: daily revenue per order priority on a complete
    // date spine, missing days forward-filled from the last observed day.
    // The spine is tiny (days x priorities, built from one global min/max
    // aggregate) so the left join broadcasts; the only real exchanges are
    // the daily rollup and one window pass per priority.
    "q_gapfill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val daily = o.groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("revenue"))
      val spine = o.agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .crossJoin(o.select(col("o_orderpriority").as("priority")).distinct())
      val w = Window.partitionBy(col("priority")).orderBy(col("day"))
      spine.join(daily, Seq("priority", "day"), "left")
        .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(last(col("revenue"), ignoreNulls = true).over(w), lit(0.0))
            .as("revenue_ff"),
          col("n_orders").isNull.as("is_filled"))
        .orderBy(col("priority"), col("day"))
    }),

    // WITH RECURSIVE month ladder (Spark 4 recursive CTE): the anchor seeds
    // [first, last] order months, each step advances one month, then a left
    // join pins monthly order volume — empty months survive with zeroes.
    // Recursion depth = month span (~80 here), a driver-side plan property
    // independent of row count, so the shape is scale-safe.
    "q_recursive_cte" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_rc_orders")
      s.sql("""
        WITH RECURSIVE months(m, mx) AS (
          SELECT trunc(CAST(MIN(o_orderdate) AS DATE), 'MONTH'),
                 trunc(CAST(MAX(o_orderdate) AS DATE), 'MONTH')
          FROM _rc_orders
          UNION ALL
          SELECT add_months(m, 1), mx FROM months WHERE m < mx
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               COUNT(o_orderkey) AS n_orders,
               COALESCE(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                   AS DOUBLE), 2), 0.0) AS revenue
        FROM months LEFT JOIN _rc_orders
          ON trunc(CAST(o_orderdate AS DATE), 'MONTH') = m
        GROUP BY m ORDER BY month""")
    }),

    // Incremental rollup maintenance: fold a 20% delta batch into a rollup
    // stored from the other 80% — cost scales with the delta, not the
    // history. The oracle recomputes the rollup from the FULL table, so
    // the gate verifies increment ≡ rebuild (exact for sum/count).
    "q_incremental_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("cents"))
      val stored = graft.operators.Upsert.rollup(
        o.filter(col("o_orderkey") % 5 =!= 0), Seq("o_orderstatus"), Seq("cents"))
      graft.operators.Upsert.incrementalRollup(
          stored, o.filter(col("o_orderkey") % 5 === 0),
          Seq("o_orderstatus"), Seq("cents"))
        .orderBy(col("o_orderstatus"))
    }),

    // LATERAL correlated subquery with LIMIT (top-3 customers per nation):
    // Spark decorrelates the per-row ORDER BY/LIMIT into a ranked window —
    // dialect parity with engines that execute LATERAL as a loop join.
    "q_lateral_topn" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("_lt_nation")
      t(s, dir, "customer").createOrReplaceTempView("_lt_customer")
      s.sql("""
        SELECT n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        FROM _lt_nation,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM _lt_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        ORDER BY n_name, acctbal DESC, c_custkey""")
    }),

    // NOT IN vs NOT EXISTS null semantics: the second probe list contains
    // NULLs (every 'P'-status order yields one), so its NOT IN must return
    // zero matches under three-valued logic, while NOT EXISTS ignores NULLs
    // entirely. Exercises Spark's null-aware anti join alongside the plain
    // left-anti path.
    "q_notin_nulls" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.createOrReplaceTempView("_nn_orders")
      c.createOrReplaceTempView("_nn_customer")
      s.sql("""
        SELECT
          (SELECT COUNT(*) FROM _nn_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM _nn_orders
                                   WHERE o_orderstatus <> 'P'))
            AS n_not_in_clean,
          (SELECT COUNT(*) FROM _nn_customer
           WHERE c_custkey NOT IN (
             SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                         ELSE o_custkey END
             FROM _nn_orders)) AS n_not_in_with_nulls,
          (SELECT COUNT(*) FROM _nn_customer c
           WHERE NOT EXISTS (
             SELECT 1 FROM _nn_orders o
             WHERE o.o_orderstatus <> 'P'
               AND o.o_custkey = c.c_custkey)) AS n_not_exists""")
    }),

    // explicit GROUPING SETS (beyond rollup/cube): two unrelated groupings
    // plus grand total in one pass, with grouping_id disambiguation
    "q_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("gs_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping_id() AS gid,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),

    // TPC-H Q3 shape: shipping priority (3-way join, filter both sides,
    // group, sort by revenue, limit)
    "q_tpch_q3" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: local volume through a 6-table join chain
    // TPC-H Q10 (returned-item reporting): quarter-scoped returns rolled up
    // to customers, top 20 by lost revenue. Date + returnflag predicates
    // push to the scans; nation broadcasts; revenue follows the proven
    // q_tpch_q3 sum-then-round pattern.
    "q_tpch_q10" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val n = t(s, dir, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R"
          && col("o_orderdate") >= lit("1995-10-01")
          && col("o_orderdate") < lit("1996-01-01"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as a
    // left-semi probe, then the 3-table join re-aggregates only the
    // surviving orders — the big lineitem scan feeds one partial agg and
    // one semi-joined pass, never a full materialized join of everything.
    "q_tpch_q18" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val big = l.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("_sq"))
        .filter(col("_sq") > 300).select(col("l_orderkey").as("_bk"))
      o.join(big, col("o_orderkey") === col("_bk"), "left_semi")
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    "q_tpch_q5" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q6 (forecasting revenue change): the canonical scan-only query —
    // every predicate reaches the parquet scan (shipdate range, discount
    // band, quantity cap), then a single partial+final agg. No join, no
    // wide shuffle: the 100 TB plan is "read the pruned row groups, sum".
    "q_tpch_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q4 adapted to this schema (no commit/receipt dates): order
    // priority checking via EXISTS — orders in a quarter with at least one
    // line shipped >60 days after the order date. left_semi keeps the
    // probe side single-pass; the date predicate prunes orders first.
    "q_tpch_q4" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1996-10-01"))
      val l = t(s, dir, "lineitem")
      o.join(l,
          o("o_orderkey") === l("l_orderkey")
            && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q14 (promo revenue): join pruned lineitem window to part,
    // conditional-sum ratio in one aggregate. p_type here is a single word,
    // so equality replaces the spec's LIKE 'PROMO%'.
    "q_tpch_q14" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01")
          && col("l_shipdate") < lit("1996-06-01"))
      val p = t(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) * 100.0
            / sum(rev), 4).as("promo_revenue_pct"),
          round(sum(rev), 2).as("total_revenue"))
    }),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): Catalyst
    // splits the equi-key from the OR residual, so this stays a hash join
    // on partkey with the disjunction evaluated post-match — not a nested-
    // loop. Container/shipmode clauses dropped (absent from this schema).
    "q_tpch_q19" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val clause =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 35)
          && col("l_quantity").between(20, 30))
      l.join(p, l("l_partkey") === p("p_partkey") && clause)
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q7 (volume shipping): bidirectional nation-pair trade by ship
    // year. The two nation lookups broadcast; the OR pair filter is a
    // post-join residual on the broadcasted dims, so the big tables still
    // join on pure equi-keys.
    "q_tpch_q7" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1998-01-01"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_name").as("cust_nation"))
      su.join(l, su("s_suppkey") === l("l_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), su("s_nationkey") === col("_sn_key"))
        .join(broadcast(n2), c("c_nationkey") === col("_cn_key"))
        .filter(
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12")
            || (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 (market share): one nation's share of a region's ECONOMY-part
    // import volume per order year — conditional-sum ratio, region/nation
    // dims broadcast, part filter applied before its join.
    "q_tpch_q8" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "AMERICA")
      val su = t(s, dir, "supplier")
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), c("c_nationkey") === col("_cn_key"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n2), su("s_nationkey") === col("_sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_6", vol).otherwise(0.0))
            / sum(vol), 4).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q2 adapted (no partsupp table in this schema): minimum-cost
    // supplier per part, with "supply cost" proxied by the minimum effective
    // unit price a supplier ever charged for the part
    // (l_extendedprice / l_quantity * (1 - l_discount)). Region-scoped
    // suppliers and the part filter broadcast into the lineitem scan; the
    // spec's correlated min-cost subquery is a window MIN over partkey —
    // one shuffle serves the per-supplier min and the per-part min. Ties
    // (all suppliers at the min) are kept, as in the spec; the full sort key
    // is unique so LIMIT is deterministic.
    "q_tpch_q2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val eu = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"), col("n_name"))
      val su = t(s, dir, "supplier")
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"))
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"))
      val unit = col("l_extendedprice") / col("l_quantity") * (lit(1) - col("l_discount"))
      val perSupp = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su.select(col("s_suppkey").as("_sk"))),
          col("l_suppkey") === col("_sk"), "left_semi")
        .groupBy(col("l_partkey"), col("p_name"), col("l_suppkey"))
        .agg(min(unit).as("cost"))
      val w = Window.partitionBy(col("l_partkey"))
      perSupp.withColumn("_min_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("_min_cost"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("p_name"),
          round(col("cost"), 4).as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q9 adapted (no partsupp => no supply-cost term): revenue by
    // supplier nation and order year for parts whose name contains a token.
    // The part filter broadcasts into the lineitem scan first (~1/7
    // survives), supplier/nation broadcast, orders is the only big-big
    // join — the Q9 plan at 100 TB is exactly this: prune with the smallest
    // dimension, shuffle once on orderkey.
    "q_tpch_q9" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").contains("widget"))
        .select(col("p_partkey"))
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(su.select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 adapted (no partsupp => part "value" proxied by region-
    // scoped trade volume): parts whose lineitem revenue from EUROPE
    // suppliers exceeds 0.1% of the region total. Revenue is accumulated in
    // EXACT integer cents (floor of the per-row product — bit-identical in
    // any engine, any aggregation order), so the global-threshold compare
    // cannot flip on a last-ulp double difference. The total is a 1-row
    // aggregate broadcast back over the per-part rollup.
    "q_tpch_q11" -> ((s, dir) => {
      val eu = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_suppkey"))
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("value_cents"))
      val total = perPart.agg(sum(col("value_cents")).as("_total"))
      perPart.join(broadcast(total))
        .filter(col("value_cents").cast("double") >
          col("_total").cast("double") * 0.001)
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    }),

    // TPC-H Q16 adapted: supplier breadth per (brand, type, size) for parts
    // outside one brand/type, sizes from a fixed list, excluding suppliers
    // in deficit (acctbal < 0 — the schema has no comment column for the
    // spec's complaint scan). Part filter broadcasts into the scan, the
    // exclusion is a broadcast anti-join, and the count-distinct groups on
    // (brand, type, size) — supplier breadth, the Q16 shape.
    "q_tpch_q16" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
          && col("p_size").isin(2, 3, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q20 adapted (no partsupp availqty): suppliers who moved more
    // than half the per-supplier average quantity of 'cold%' parts in 1996,
    // by nation — the spec's correlated availability threshold becomes a
    // 1-row average broadcast over the per-supplier rollup, and the final
    // supplier selection is a semi-join (the Q20 nested-EXISTS shape).
    // Quantities are integer-valued doubles: sums and the average are exact
    // in any engine and any order.
    "q_tpch_q20" -> ((s, dir) => {
      val coldParts = t(s, dir, "part").filter(col("p_name").like("cold%"))
        .select(col("p_partkey"))
      val qty96 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(coldParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("_qty"))
      val avgq = qty96.agg(avg(col("_qty")).as("_avg"))
      val keep = qty96.join(broadcast(avgq))
        .filter(col("_qty") > col("_avg") * 0.5)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(keep), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q12 adapted (no l_shipmode column in this schema): late-shipment
    // priority audit by linestatus — lines shipped >60 days after order date
    // in 1996, split into high/low priority counts. One join, one
    // conditional-sum aggregate; both date predicates reach the lineitem scan.
    "q_tpch_q12" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      o.join(l, col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // TPC-H Q13 (customer order-count distribution): LEFT join keeps
    // zero-order customers; the join-side filter (priority <> URGENT) lives in
    // the join condition, not a WHERE, so empty groups count as 0. Two
    // aggregations: per-customer count, then the distribution histogram.
    "q_tpch_q13" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 (top supplier): quarter revenue per supplier, then keep the
    // supplier(s) hitting the max. The max is a 1-row aggregate broadcast
    // back onto the 10k-row revenue view — no second lineitem pass, no sort.
    // Selection compares the raw sums (within-engine consistent); only the
    // output is rounded.
    "q_tpch_q15" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1996-04-01"))
      val revenue = l.groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_rev"))
      val top = revenue.agg(max(col("_rev")).as("_maxrev"))
      val su = t(s, dir, "supplier")
      su.join(revenue, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("_rev") === col("_maxrev"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("_rev"), 2).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 (small-quantity-order revenue): brand parts broadcast-semi
    // filter the lineitem scan first (~1/25 survives), then a per-part window
    // average replaces the spec's correlated scalar subquery — one shuffle on
    // partkey serves both the average and the filter. Quantities are
    // integer-valued doubles, so the avg threshold is order-independent and
    // engine-exact.
    "q_tpch_q17" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val l = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
      val w = Window.partitionBy(col("l_partkey"))
      l.withColumn("_avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("_avg_qty"))
        .agg(
          round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q21 adapted (suppliers who kept orders waiting; "late" =
    // shipped >90 days after order date, no receipt/commit dates in this
    // schema). The spec's EXISTS + NOT-EXISTS pair of correlated self-joins
    // collapses into ONE per-order aggregate: count distinct suppliers and
    // distinct late suppliers, then a late line is a sole-blame line iff the
    // order has >1 supplier and exactly 1 late one. Single shuffle on
    // orderkey instead of three lineitem passes — the 100 TB plan.
    "q_tpch_q21" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val lo = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("_late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      // two-level agg (order,supp)->(order) instead of two countDistincts in
      // one groupBy: same answer, no Expand rewrite doubling the shuffle
      val perOrder = lo
        .groupBy(col("l_orderkey").as("_ok"), col("l_suppkey").as("_sk"))
        .agg(max(col("_late")).as("_supp_late"))
        .groupBy(col("_ok"))
        .agg(
          count(lit(1)).as("_n_supp"),
          sum(when(col("_supp_late"), 1L).otherwise(0L)).as("_n_late"))
      val su = t(s, dir, "supplier")
      lo.filter(col("_late"))
        .join(perOrder, col("l_orderkey") === col("_ok"))
        .filter(col("_n_supp") > 1 && col("_n_late") === 1)
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // TPC-H Q22 adapted (no phone column; "inactive" = no orders since
    // 2000-01-01): wealthy inactive customers per nation. The global average
    // threshold is computed in exact integer cents (deterministic in any
    // engine, any partition order) and broadcast as a 1-row cross join; the
    // recency check is a broadcast anti-join against the pruned orders scan.
    "q_tpch_q22" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("_cents", round(col("c_acctbal") * 100).cast("long"))
      val avgCents = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("_cents")).cast("double") / count(lit(1))).as("_avg_cents"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      c.join(broadcast(avgCents))
        .filter(col("_cents").cast("double") > col("_avg_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("_cents")).as("acct_cents"))
        .orderBy(col("c_nationkey"))
    }),

    // Bucketed co-located join (Layout.bucketedWrite promoted to the driver
    // gate): both sides land in the catalog hash-bucketed AND bucket-sorted
    // on the join key, so the join plans with NO shuffle exchange and no
    // sort, and the groupBy on the same key rides the bucket partitioning
    // too — the layout cost is paid once at write, every subsequent run of
    // a recurring fact join is shuffle-free. PlanQualitySpec asserts the
    // Exchange-free plan; the oracle replays the same join on the raw
    // parquet. Sums are exact integer cents.
    "q_bucketed_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("_cents"))
      operators.Layout.bucketedWrite(c, "graft_bj_customer", 8,
        Seq("c_custkey"), Seq("c_custkey"))
      operators.Layout.bucketedWrite(o, "graft_bj_orders", 8,
        Seq("o_custkey"), Seq("o_custkey"))
      s.table("graft_bj_customer")
        .join(s.table("graft_bj_orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("_cents")).as("cents"))
        .orderBy(col("c_custkey"))
    }),

    // exact percentiles (sort-based, matches ANSI percentile_cont). One
    // percentile(col, array(...)) aggregate: a single value-count buffer per
    // group serves all three points — three separate percentile() calls each
    // maintain (and merge) their own copy of the full value map.
    "q_percentiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // hash-spread the exact-percentile partial aggregation (3 groups,
      // one-row-group scan = one task otherwise; the value-count maps
      // merge commutatively so the interpolated result is
      // partitioning-independent)
      spreadIfNarrow(li, col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("_p"))
        .select(col("l_returnflag"),
          round(col("_p").getItem(0), 4).as("p50"),
          round(col("_p").getItem(1), 4).as("p90"),
          round(col("_p").getItem(2), 4).as("p99"))
        .orderBy(col("l_returnflag"))
    }),

    // approximate percentiles — the 100 TB answer to q_percentiles: Spark's
    // approx_percentile (Greenwald-Khanna summaries) keeps O(1/accuracy)
    // state per group instead of the exact aggregate's full value-count map,
    // and merges map-side. The approx values themselves depend on summary
    // merge order, so the contract emits rank-error booleans instead: GK
    // guarantees rank error <= N/accuracy, verified with one codegen'd
    // fraction-below pass (no second exact-percentile buffer anywhere).
    "q_approx_percentiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = li.agg(
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 1000)").as("_ap"))
        .select(col("_ap").getItem(0).as("_a50"),
          col("_ap").getItem(1).as("_a90"), col("_ap").getItem(2).as("_a99"))
      li.crossJoin(broadcast(approx))
        .agg(
          avg(when(col("l_extendedprice") <= col("_a50"), 1.0).otherwise(0.0)).as("_f50"),
          avg(when(col("l_extendedprice") <= col("_a90"), 1.0).otherwise(0.0)).as("_f90"),
          avg(when(col("l_extendedprice") <= col("_a99"), 1.0).otherwise(0.0)).as("_f99"))
        .select(
          (col("_f50") >= 0.49 && col("_f50") <= 0.51).as("p50_ok"),
          (col("_f90") >= 0.89 && col("_f90") <= 0.91).as("p90_ok"),
          (col("_f99") >= 0.98 && col("_f99") <= 1.0).as("p99_ok"))
    }),

    // Stored-sketch quantiles (gk_sketch_agg/gk_union_agg): per-returnflag GK
    // summaries merged to a global one, then point-queried — the sketch-
    // warehouse path where percentiles come from stored state, not rescans.
    // Merge order varies run to run, so (like q_approx_percentiles) the
    // contract emits rank-error booleans computed by one fraction-below pass.
    "q_gk_quantile_reagg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val perGroup = li.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.gk_sketch_agg(col("l_extendedprice"), 0.01).as("gk"))
      val merged = perGroup
        .agg(GraftFunctions.gk_union_agg(col("gk")).as("gk"))
        .select(GraftFunctions.gk_quantile(col("gk"), lit(0.5)).as("_p50"),
          GraftFunctions.gk_quantile(col("gk"), lit(0.9)).as("_p90"))
      li.crossJoin(broadcast(merged))
        .agg(
          avg(when(col("l_extendedprice") <= col("_p50"), 1.0).otherwise(0.0)).as("_f50"),
          avg(when(col("l_extendedprice") <= col("_p90"), 1.0).otherwise(0.0)).as("_f90"))
        .select(
          (col("_f50") >= 0.47 && col("_f50") <= 0.53).as("p50_ok"),
          (col("_f90") >= 0.87 && col("_f90") <= 0.93).as("p90_ok"))
    }),

    // pivot: order counts per status x priority matrix
    "q_pivot" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .toDF("o_orderstatus", "urgent", "high", "medium", "notspec", "low")
        .orderBy(col("o_orderstatus"))
    }),

    // unpivot/melt: wide per-status metrics back to (metric, value) rows
    "q_unpivot" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
          round(avg(col("o_totalprice")), 4).as("avg_price"),
          count(lit(1)).cast("double").as("n_orders"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("sum_price"), col("avg_price"), col("n_orders")),
          "metric", "value")
        .orderBy(col("o_orderstatus"), col("metric"))
    }),

    // set operations: intersect / except / union distinct
    "q_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val highPri = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val openStatus = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val both = highPri.intersect(openStatus).agg(count(lit(1)).as("n"))
        .select(lit("urgent_and_open").as("bucket"), col("n"))
      val onlyUrgent = highPri.except(openStatus).agg(count(lit(1)).as("n"))
        .select(lit("urgent_not_open").as("bucket"), col("n"))
      val either = highPri.union(openStatus).distinct().agg(count(lit(1)).as("n"))
        .select(lit("urgent_or_open").as("bucket"), col("n"))
      both.union(onlyUrgent).union(either).orderBy(col("bucket"))
    }),

    // Multiset set ops (ALL variants): INTERSECT ALL keeps min(multiplicity),
    // EXCEPT ALL subtracts multiplicities — Catalyst rewrites these through
    // a replicate-rows generate, a different physical path from the
    // distinct-based rewrites q_setops exercises.
    "q_setops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val interAll = urgent.intersectAll(open).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("bucket"), col("n"))
      val exceptAll = urgent.exceptAll(open).agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("bucket"), col("n"))
      val unionAll = urgent.unionAll(open).agg(count(lit(1)).as("n"))
        .select(lit("union_all").as("bucket"), col("n"))
      interAll.union(exceptAll).union(unionAll).orderBy(col("bucket"))
    }),

    // Null-safe equality join (<=>): NULL keys match each other — and the
    // predicate still plans as a HASH join (EqualNullSafe is a valid hash
    // key), unlike general null logic which would degrade to a nested
    // loop. The strict (=) count alongside shows the dropped-null contrast.
    "q_nullsafe_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(nullif(col("o_custkey") % 500, lit(13)).as("k"))
      val c = t(s, dir, "customer")
        .select(nullif(col("c_custkey") % 500, lit(13)).as("ck"))
      val nsafe = o.join(c, col("k") <=> col("ck"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_matches"))
      val strict = o.join(c, col("k") === col("ck"))
        .agg(count(lit(1)).as("n_rows_strict"))
      nsafe.crossJoin(strict)
    }),

    // max_by / min_by / median: per-segment extremes with a composite
    // ordering key (acctbal cents * 1e12 + custkey — strictly monotonic in
    // (acctbal, custkey) while custkey < 1e12, i.e. far past any real SF,
    // and |cents| < 1e6 keeps the product inside a long); median computed
    // over exact integer cents to dodge double-interpolation rendering
    // drift.
    "q_argmax_median" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val key = round(col("c_acctbal") * 100).cast("long") * 1000000000000L +
        col("c_custkey")
      c.groupBy(col("c_mktsegment"))
        .agg(max_by(col("c_custkey"), key).as("top_cust"),
          min_by(col("c_custkey"), key).as("bot_cust"),
          (median(round(col("c_acctbal") * 100).cast("long")) / 100.0)
            .as("med_bal"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // cube with grouping_id (grouping-sets family beyond rollup)
    "q_cube_status_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"), col("n"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // scalar function surface: string/date/math builtins
    "q_scalar_funcs" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
          length(col("o_orderstatus")).as("status_len"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          round(sqrt(abs(col("o_totalprice"))), 4).as("sqrt_price"),
          (col("o_orderkey") % 7).as("key_mod"))
        .orderBy(col("o_orderkey"))
    }),

    // dropDuplicates on a column subset (first-wins semantics made
    // deterministic by reducing to min orderkey per group)
    "q_dropdup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(min(col("o_orderkey")).as("first_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }),

    // ---- training-data pipeline: deduplication ----

    "dd_exact_stats" -> ((s, dir) =>
      graft.operators.Dedup.exactDupStats(t(s, dir, "documents"), "text", "doc_id")),

    "dd_exact_keep" -> ((s, dir) =>
      graft.operators.Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))),

    "dd_minhash_pairs" -> ((s, dir) =>
      graft.operators.Dedup.minhashNearDupPairs(
          t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("id1"), col("id2"))),

    // simhash summary: the hamming values come from our token-hash simhash,
    // which no SQL oracle can recompute — so the contract emits (a) the
    // exact-Jaccard near-dup count, which DuckDB computes independently from
    // raw text, (b) how many of those the simhash blocking recovered
    // (golden-locked: 4x16-bit pigeonhole only GUARANTEES hamming<=3, the
    // rest is heuristic recall), and (c) the pair/hamming-0 counts
    // golden-locked at sf0.01.
    "dd_simhash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sim = graft.operators.Dedup.simhashNearDupPairs(d, "text", "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming"))
      val near = graft.operators.Dedup.minhashNearDupPairs(d, "text", "doc_id", threshold = 0.5)
        .select(col("id1"), col("id2"), lit(1).as("is_near"))
      // full-outer join of the two pair sets, then ONE aggregate for all
      // four counters — the previous three cross-joined aggregates ran the
      // minhash pipeline twice and the simhash pipeline once more
      sim.join(near, Seq("id1", "id2"), "full_outer")
        .agg(
          count(col("hamming")).as("n_pairs"),
          sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_hamming0"),
          count(col("is_near")).as("n_neardups"),
          count(when(col("is_near").isNotNull && col("hamming").isNotNull, 1))
            .as("n_neardups_covered"))
    }),

    // n-gram Jaccard over consecutive-id pairs (deterministic bounded pair
    // set). Shingle sets are hashed ONCE per document side (native
    // ShingleHashes -> sorted distinct longs) and compared with the
    // merge-count SortedLongJaccard — the same hot path the minhash verify
    // uses. Identical to string-set Jaccard modulo 64-bit hash collisions
    // (~|S|^2/2^65 per pair); the interpreted string-array formulation this
    // replaces re-shingled both documents per pair and ran ~40x slower.
    "dd_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id1"),
        graft.operators.Dedup.shingleHashes(col("text")).as("sh1"))
      val b = d.select(col("doc_id").as("id2"),
        graft.operators.Dedup.shingleHashes(col("text")).as("sh2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(col("id1"), col("id2"),
          round(graft.operators.Dedup.sortedJaccard(col("sh1"), col("sh2")), 4).as("jaccard"))
        .orderBy(col("id1"))
    }),

    // EXACT all-pairs Jaccard >= 0.3 over word-trigram sets (prefix-filter
    // AllPairs join): the deterministic complement to dd_minhash_pairs —
    // the oracle brute-forces every pair, so the gate proves 100% recall,
    // not an LSH probability.
    "dd_jaccard_join" -> ((s, dir) => {
      // NOT spread (r15 A/B): hash-spreading the scan before the shingle
      // pass parallelized the 0.76 s serialized shingle task but inflated
      // task CPU 3-6x (per-task overhead across the pipeline's many
      // broadcast-probe stages) for flat-to-worse wall on every jaccard
      // lane — measured and rejected, numbers in OPTIMIZATION_r15.md.
      val d = t(s, dir, "documents")
      graft.operators.Dedup.jaccardSelfJoin(d, "doc_id", "text", 0.3)
        .orderBy(col("id1"), col("id2"))
    }),

    // Cross-corpus exact Jaccard join (incoming batch vs existing corpus,
    // modeled as the odd/even doc_id split): same prefix-filter theorem
    // with ONE frequency table over both sides, candidates between sides
    // only. Brute-force oracle proves exact recall.
    "dd_jaccard_cross" -> ((s, dir) => {
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      graft.operators.Dedup.jaccardCrossJoin(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          threshold = 0.3)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Relative (within-language) quality filter: keep docs at or above
    // their OWN language's p25 length — absolute thresholds empty
    // lower-scoring groups; the within-group percentile adapts. Exact
    // interpolating percentile (ANSI percentile_cont semantics) as a
    // window over the language shuffle; the oracle recomputes thresholds
    // with quantile_cont. Integer scores make the interpolation arithmetic
    // identical in both engines.
    "tx_relative_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val kept = graft.operators.Sampling.relativeFilter(d, "lang", "n_chars", 0.25)
      val thr = d.groupBy(col("lang"))
        .agg(round(percentile(col("n_chars"), lit(0.25)), 2).as("p25_chars"),
          count(lit(1)).as("n_docs"))
      kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .join(thr, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_kept"), col("p25_chars"))
        .orderBy(col("lang"))
    }),

    // Deterministic temperature resampling: floor(weight) copies per doc
    // plus an LCG-decided fractional copy — up-sampling (2.5x the curated
    // source) and down-sampling (0.3x the noisy ones) in ONE map-only
    // pass, identical output on any engine, any partitioning, any rerun.
    // The oracle replays copy counts with the same integer scramble.
    "tx_upsample_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4)
      val out = graft.operators.Sampling.weightedReplicate(
        d, "doc_id", "source", weights)
      out.groupBy(col("source"))
        .agg(count(lit(1)).as("n_out"),
          countDistinct(col("doc_id")).as("n_docs_kept"),
          max(col("copy")).as("max_copy"))
        .orderBy(col("source"))
    }),

    // Vocabulary-growth curve (corpus saturation analytics): bucket the
    // corpus into ingestion batches, count 3-gram shingles NEVER seen in an
    // earlier bucket — the "is more crawl still adding novelty" signal.
    // first-seen = one min-aggregate on the shingle shuffle (no cumulative
    // re-scans); the running total is a window sum over the 10-row curve.
    // The same curve at 100 TB: per-bucket HLL sketches re-aggregated
    // cumulatively — est_ok checks the sketch curve against the exact one
    // at every point.
    "tx_vocab_growth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      // native single-pass shingle hashing (same expression the Jaccard
      // joins use — its hash-vs-string equivalence is oracle-proven by
      // dd_jaccard_join); per-doc distinct is harmless for first-seen and
      // distinct counting. A lambda-built string-shingle variant was 40x
      // slower: CollapseProject inlines the split() into every subscript
      // of the transform, going quadratic in document length.
      val toks = d.select((col("doc_id") / 50).cast("int").as("bucket"),
          explode(graft.operators.Dedup.shingleHashes(col("text"), 3)).as("tok"))
      val newPer = toks.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_tokens"))
      // k = 2^16 keeps the whole <=20k-token curve in the linear-counting
      // regime, clear of the reference's documented mid-range bias zone
      val sk = toks.groupBy(col("bucket"))
        .agg(GraftFunctions.hll_sketch_agg(col("tok"), 1 << 16).as("_sk"))
      // keyless window over one row per bucket: WindowExec's "No
      // Partition Defined" warning is harmless here
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      newPer.join(sk, Seq("bucket"))
        .withColumn("cum_vocab", sum(col("n_new_tokens")).over(wCum))
        .withColumn("_cum_est",
          GraftFunctions.hll_estimate(GraftFunctions.hll_union_agg(col("_sk")).over(wCum)))
        .select(col("bucket"), col("n_new_tokens"), col("cum_vocab"),
          (abs(col("_cum_est") - col("cum_vocab")) / col("cum_vocab") <= 0.05)
            .as("est_ok"))
        .orderBy(col("bucket"))
    }),

    // The curation pipeline COMPOSED from portable primitives: relative
    // quality filter (keep docs >= their language's p25 length) -> per-
    // source cap (10 docs by LCG rank) -> leakage-safe split (exact
    // Jaccard clusters on the survivors, split keyed on the
    // representative). Every stage is engine-replayable, so the oracle
    // re-derives the ENTIRE pipeline — quantile thresholds, capped sets,
    // recursive-CTE components, split labels — and the id sums pin the
    // exact surviving set per split.
    "tx_curation_pipeline" -> ((s, dir) => {
      import graft.operators.{Dedup, Sampling}
      val d = t(s, dir, "documents")
      val filtered = Sampling.relativeFilter(d, "lang", "n_chars", 0.25)
      val capped = Sampling.capPerGroup(filtered, "source", col("doc_id"), 10)
        .localCheckpoint()
      val pairs = Dedup.jaccardSelfJoin(capped, "doc_id", "text", 0.3)
        .select(col("id1"), col("id2"))
      val clusters = Dedup.connectedComponents(pairs)
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      Sampling.leakageSafeSplit(capped, "doc_id", clusters, fr)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))
    }),

    // Per-source quality drift: total variation distance between the two
    // corpus halves' length histograms, per source — the "source X
    // suddenly ships different documents" alarm. TVD stays in exact
    // integer arithmetic until one final division, so the score is
    // bit-reproducible in any engine and any aggregation order; the
    // oracle re-derives it from raw counts.
    "tx_quality_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Quality.distributionDrift(d, "source",
          col("doc_id") < 250,
          least(lit(7), floor(col("n_chars") / 100)).cast("int"))
        .select(col("source"), col("n_baseline"), col("n_compare"),
          round(col("tvd"), 6).as("tvd"))
        .orderBy(col("source"))
    }),

    // Per-domain crawl-frequency cap (mix winsorization): keep at most 10
    // docs per source, chosen by the portable LCG scramble of doc_id — not
    // crawl order, not RNG. The row_number filter compiles to a map-side
    // WindowGroupLimit, so a mega-domain ships cap x partitions rows into
    // the exchange, not its whole corpus (PlanQualitySpec asserts the
    // pushdown). kept_id_sum/min pin the exact kept SET, which the oracle
    // replays with ROW_NUMBER over the same integer scramble.
    "q_domain_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val kept = graft.operators.Sampling.capPerGroup(d, "source", col("doc_id"), 10)
      kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          min(col("doc_id")).as("kept_id_min"))
        .join(d.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("kept_id_sum"), col("kept_id_min"))
        .orderBy(col("source"))
    }),

    // Leakage-safe train/val/test split: split assignment keys on the
    // near-dup CLUSTER representative (connected components over the exact
    // Jaccard pair graph, label = component min id), so no duplicate pair
    // can straddle splits — the naive per-document split demonstrably
    // leaks (naive_cross_pairs > 0), the cluster-keyed one cannot
    // (safe_cross_pairs = 0). Assignment uses the engine-portable LCG
    // split, so the DuckDB oracle replays EVERYTHING: pairs brute-forced,
    // components via recursive-CTE transitive closure (first direct oracle
    // over the clustering machinery), splits with integer arithmetic.
    // Rendezvous (HRW) shard assignment: elastic resharding for bucketed
    // layouts — growing 8 shards to 9 moves ONLY the keys whose new shard
    // wins the argmax (every mover lands on shard 8; expected 1/9 of the
    // corpus), where modulo sharding would reshuffle ~8/9 of every shard.
    // md5-based so the DuckDB oracle replays the assignment verbatim; the
    // per-shard counts AND the exact mover counts are all hash-compared.
    "dd_rendezvous_shard" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("shard8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("shard8") =!= col("shard9")).cast("long")).as("moved"),
          // HRW theorem: a key moves under n -> n+1 ONLY to the new shard
          min(col("shard9") === col("shard8") || col("shard9") === 8)
            .as("moves_only_to_new"))
        .orderBy(col("shard8"))
    }),

    // Fast (xxh64) rendezvous variant: DuckDB cannot replay the hash, so
    // the oracle pins the hash-INDEPENDENT HRW invariants, each computed
    // exactly in Spark and predicted exactly by the oracle: every 8->9
    // mover lands on the new shard (bad_moves = 0 — the HRW theorem, true
    // for any per-(key,shard) hash), the moved fraction is ~1/9 (banded),
    // and the 8-shard layout is fully used and near-uniform. The assignment
    // itself is deterministic, so flakiness is not a concern — the booleans
    // are fixed values for the fixed corpus.
    "dd_rendezvous_fast" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id"),
        Sampling.rendezvousShardFast(col("doc_id"), 8).as("s8"),
        Sampling.rendezvousShardFast(col("doc_id"), 9).as("s9"))
      val moves = a.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1L).otherwise(0L))
          .as("bad_moves"),
        (sum(when(col("s8") =!= col("s9"), 1.0).otherwise(0.0)) / count(lit(1)))
          .between(lit(0.05), lit(0.20)).as("move_frac_ok"))
      // shard-grain stats (8 rows) — count(*) of the groupBy, not a
      // count_distinct in the agg above, which would plan an Expand
      val balance = a.groupBy(col("s8")).agg(count(lit(1)).as("n"))
        .agg((count(lit(1)) === 8).as("all_shards_used"),
          (max(col("n")) <= min(col("n")) * 2).as("balance_ok"))
      moves.crossJoin(broadcast(balance))
        .select(col("n_docs"), col("bad_moves"), col("move_frac_ok"),
          col("all_shards_used"), col("balance_ok"))
    }),

    "dd_leakage_split" -> ((s, dir) => {
      import graft.operators.{Dedup, Sampling}
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      val pairs = Dedup.jaccardSelfJoin(d, "doc_id", "text", 0.3)
        .select(col("id1"), col("id2")).localCheckpoint()
      // pairs is pinned above (the audit join reuses it) — skip the
      // operator's internal re-materialization job (r15)
      val clusters = Dedup.connectedComponents(pairs, materialized = true)
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val split = Sampling.leakageSafeSplit(d, "doc_id", clusters, fr)
        .withColumn("naive", Sampling.portableSplit(col("doc_id"), fr))
        .select(col("doc_id"), col("naive"), col("split").as("safe"))
        .localCheckpoint()
      val counts = split.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("safe") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("safe") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("safe") === "test", 1L).otherwise(0L)).as("n_test"))
      val audit = pairs
        .join(split.select(col("doc_id").as("id1"),
          col("naive").as("_n1"), col("safe").as("_s1")), "id1")
        .join(split.select(col("doc_id").as("id2"),
          col("naive").as("_n2"), col("safe").as("_s2")), "id2")
        .agg(
          count(lit(1)).as("n_dup_pairs"),
          coalesce(sum(when(col("_n1") =!= col("_n2"), 1L).otherwise(0L)), lit(0L))
            .as("naive_cross_pairs"),
          coalesce(sum(when(col("_s1") =!= col("_s2"), 1L).otherwise(0L)), lit(0L))
            .as("safe_cross_pairs"))
      counts.crossJoin(audit)
        .select(col("n_docs"), col("n_dup_pairs"), col("naive_cross_pairs"),
          col("safe_cross_pairs"), (col("safe_cross_pairs") === 0L).as("no_leakage"),
          col("n_train"), col("n_val"), col("n_test"))
    }),

    // Snapshot-diff-driven incremental dedup: between corpus versions, only
    // the DELTA (new + changed docs — Upsert.snapshotDelta, cost ∝ churn)
    // is re-shingled and checked against the standing corpus via the exact
    // cross-Jaccard join; self-id pairs are excluded (a changed doc
    // REPLACES its old version, it does not duplicate it). The oracle
    // replays the delta with a direct text compare and brute-forces the
    // delta-vs-standing Jaccard — end-to-end proof the incremental path
    // finds exactly the full recompute's cross pairs.
    "dd_incremental_snapshot" -> ((s, dir) => {
      import graft.operators.{Dedup, Upsert}
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      val v1 = d.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val v2 = d.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated marker")))
          .otherwise(col("text")).as("text"))
      val delta = Upsert.snapshotDelta(v1, v2, Seq("doc_id"), Seq("text"))
        .localCheckpoint()
      val pairs = Dedup.jaccardCrossJoin(delta, "doc_id", "text",
          v1, "doc_id", "text", threshold = 0.3)
        .filter(col("a_id") =!= col("b_id"))
      val dcounts = delta.agg(
        count(lit(1)).as("n_delta"),
        sum(when(col("change") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("change") === "changed", 1L).otherwise(0L)).as("n_changed"))
      val pstats = pairs.agg(
        count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("a_id")).as("n_delta_dup"))
      dcounts.crossJoin(pstats)
        .select(col("n_delta"), col("n_added"), col("n_changed"),
          col("n_dup_pairs"), col("n_delta_dup"),
          (col("n_delta") - col("n_delta_dup")).as("n_delta_clean"))
    }),

    // Exact-substring containment (quoted/truncated re-posts): strided
    // rolling-anchor index on the container side, first-`stride` anchor
    // offsets on the inner side, hash-join, contains() verify — exact
    // recall for docs >= gram+stride-1 chars with only 8-byte hashes on
    // the wire. The oracle brute-forces the same pair set with contains().
    "dd_substring_contain" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.substringContainment(d, "doc_id", "text")
        .orderBy(col("inner_id"), col("outer_id"))
    }),

    // line-level corpus dedup (CCNet/RefinedWeb boilerplate removal): the
    // flat word-soup corpus has no newlines, so the query derives "lines" as
    // 3-word chunks (array slicing, pure map work) before handing the
    // newline-joined text to the operator. Per-doc stats only cross the
    // wire — clean_text is reduced to its length before the final sort.
    "dd_line_dedup" -> ((s, dir) => {
      // hash-spread before the chunking transform + line explode: the
      // one-row-group scan is a single task, and the whole
      // split/sequence/slice pipeline fused to it ran serially (r14
      // profile: 0.61 s max task of 1.4 s CPU). Counts/reassembly are
      // per-doc exact, partitioning-independent.
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val chunked = d.selectExpr("doc_id",
        """array_join(transform(
          |  sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1),
          |  i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' ')),
          | '\n') as text""".stripMargin)
      graft.operators.Dedup.lineDedup(chunked, "doc_id", "text",
          minDocFreq = 2, normalize = false)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          length(col("clean_text")).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    "dd_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // the synthetic corpus has no natural near-dups, so plant exact copies
      // of the first 20 vectors (deterministic, oracle-replicable); the
      // operator must recover exactly those pairs. Copies collide in every
      // LSH table regardless of bit count, so 16-bit multi-table blocking
      // (the scale-safe config) has guaranteed recall here.
      val planted = e.union(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000L))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 16, 64)
      graft.operators.Similarity.embeddingNearDupPairs(planted, "vec_id", "embedding",
          planes, threshold = 0.95)
        .orderBy(col("id1"), col("id2"))
    }),

    // semantic dedup (SemDeDup-style): drop any vector with a lower-id
    // near-dup at cos >= 0.95, keep-first representative. Planted exact
    // copies (same construction as dd_embedding_neardup) are the guaranteed
    // drop set; the query emits the drop list (who was dropped, which
    // lower id condemned it) plus the surviving count — the oracle
    // brute-forces the identical global policy over all pairs.
    "dd_semantic_keep" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val planted = e.union(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000L))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 16, 64)
      val dropped = graft.operators.Similarity.semanticDropList(
        planted, "vec_id", "embedding", planes, threshold = 0.95)
      val nKept = graft.operators.Similarity.semanticDedupKeep(
        planted, "vec_id", "embedding", planes, threshold = 0.95)
        .agg(count(lit(1)).as("n_kept"))
      dropped.crossJoin(broadcast(nKept))
        .select(col("dropped_id"), col("dup_of"), col("n_kept"))
        .orderBy(col("dropped_id"))
    }),

    // sessionization: lag + cumulative-sum windows over the event stream
    "q_sessionize" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.operators.Sessionize.sessionStats(ev, "user_id", "ts", gapSeconds = 3600)
        .select(col("user_id"), col("session_seq"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // range join: events bucketed into price-derived integer intervals of
    // orders (synthetic intervals exercise the bucketed composition; the
    // plan must not contain a nested-loop join)
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"))
      val iv = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") * 10).as("lo"),
          (col("o_custkey") * 10 + 5).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
          ev.withColumn("pt", col("user_id") * 10 + 2), iv,
          "pt", "lo", "hi", bucketWidth = 16)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_intervals"))
        .orderBy(col("event_id"))
    }),

    // interval-overlap join: event-derived ranges against order-derived
    // ranges, bucketed (no cross product, no duplicate pairs)
    "q_interval_overlap" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        (col("user_id") * 10 + 2).as("elo"), (col("user_id") * 10 + 8).as("ehi"))
      val iv = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") * 10).as("olo"), (col("o_custkey") * 10 + 5).as("ohi"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          ev, iv, "elo", "ehi", "olo", "ohi", bucketWidth = 16)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("event_id"))
    }),

    // bloom seen-set filtering: customers with no orders via an approximate
    // anti-join (bloom has false positives only, so survivors are a subset
    // of the exact anti-join; verified exactly here by re-checking)
    "dd_bloom_unseen" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val ev = events(s, dir).select(col("user_id"))
      val approx = graft.operators.BloomTools.filterUnseen(
        c, "c_custkey", ev, "user_id", expectedItems = 1000000L, fpp = 0.01)
      // exact verification pass over the bloom survivors (cheap: survivors
      // are already pruned) -> exact result, bloom did the heavy lifting
      approx.join(ev, approx("c_custkey") === ev("user_id"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    }),

    // incremental dedup: treat src3 as the newly arrived batch and keep only
    // docs that aren't near-dups of the existing corpus (src0-src2)
    "dd_incremental_keep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") =!= "src3")
      val batch = d.filter(col("source") === "src3")
      graft.operators.Dedup.dedupAgainst(corpus, batch, "text", "doc_id", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // complete dedup pipeline: LSH pairs -> components -> keep one per cluster
    "dd_neardedup_keep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.nearDedup(d, "text", "doc_id", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // composed curation pipeline: quality gate + lang filter + near-dedup,
    // reporting per-stage survivor counts
    "dd_pipeline_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d.withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .withColumn("q", graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")))
        .withColumn("lang_pred", graft.operators.TextAnalysis.langIdFrom(col("_ts")))
        .drop("_ts")
        .localCheckpoint(true) // scan once; filters below reuse it
      // stage counts 0-2 in ONE aggregation pass (conditional sums), so the
      // scored scan isn't re-run per stage
      val funnel = scored.agg(
        count(lit(1)).as("n_input"),
        sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("q") >= 0.5 && col("lang_pred") =!= "und", 1L).otherwise(0L)).as("n_lang"))
        .collect()(0)
      val langKept = scored.filter(col("q") >= 0.5 && col("lang_pred") =!= "und")
      val nDedup = graft.operators.Dedup
        .nearDedup(langKept, "text", "doc_id", threshold = 0.5).count()
      val stages = Seq(
        ("0_input", funnel.getLong(0)),
        ("1_quality", funnel.getLong(1)),
        ("2_lang", funnel.getLong(2)),
        ("3_neardedup", nDedup))
      s.createDataFrame(stages).toDF("stage", "n_docs").orderBy(col("stage"))
    }),

    // sketch-algebra intersection: distinct users seen in BOTH halves of the
    // event stream (inclusion-exclusion over stored sketches). Exact sides
    // are oracle-computable; the intersection estimate is a DIFFERENCE of
    // estimates so its tolerance is wider than a single sketch's.
    "hll_intersect_halves" -> ((s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_intersect"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_intersect"),
        (abs(GraftFunctions.hll_intersect_estimate(col("sk_a"), col("sk_b"))
          - col("exact_intersect")) / col("exact_intersect") <= 0.15).as("intersect_ok"))
    }),

    // sketch set-algebra completion: |A \ B| via inclusion-exclusion.
    // The tolerance is UNION-relative: the difference inherits the union
    // estimates' absolute error, so err/|A\B| is unbounded when the
    // difference is small — err/|A∪B| is the honest contract.
    "hll_difference_halves" -> ((s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(max(when(col("half") === 0, 1).otherwise(0)).as("_h0"),
          max(when(col("half") === 1, 1).otherwise(0)).as("_h1"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_h0") === 1 && col("_h1") === 0, 1L).otherwise(0L))
            .as("exact_a_only"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_a_only"),
        (abs(GraftFunctions.hll_difference_estimate(col("sk_a"), col("sk_b"))
          - col("exact_a_only")) / col("exact_union") <= 0.05).as("difference_ok"))
    }),
    // KMV bottom-k sketch: NATIVE set algebra on stored sketches (vs the
    // HLL family's inclusion-exclusion). The event-id halves are provably
    // disjoint (parity split of unique ids), so KMV's intersection estimate
    // must be EXACTLY zero — no shared hash can sit in both bottom-k sets —
    // where inclusion-exclusion would return union-scaled noise. The
    // user-id halves overlap almost completely; intersection and Jaccard
    // track the exact values within the 1/sqrt(k) band. One pass builds
    // both sketch pairs; kmv_union_agg re-aggregates the stored event
    // sketches into the union estimate.
    "hll_kmv_sets" -> ((s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sk = half.groupBy(col("half")).agg(
        GraftFunctions.kmv_sketch_agg(col("event_id"), 1024).as("sk_e"),
        GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk_u"))
      val pair = sk.agg(
        GraftFunctions.kmv_union_agg(col("sk_e")).as("sk_e_all"),
        max(when(col("half") === 0, col("sk_e"))).as("sk_e0"),
        max(when(col("half") === 1, col("sk_e"))).as("sk_e1"),
        max(when(col("half") === 0, col("sk_u"))).as("sk_u0"),
        max(when(col("half") === 1, col("sk_u"))).as("sk_u1"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"),
          countDistinct(col("event_id")).as("_ne"))
        .agg(count(lit(1)).as("exact_users"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_users_both"),
          sum(col("_ne")).as("exact_events"))
      pair.crossJoin(exact).select(
        col("exact_users"), col("exact_users_both"), col("exact_events"),
        (abs(GraftFunctions.kmv_estimate(col("sk_e_all")) - col("exact_events"))
          / col("exact_events") <= 0.1).as("union_ok"),
        (GraftFunctions.kmv_intersect_estimate(col("sk_e0"), col("sk_e1"))
          === 0.0).as("disjoint_exact"),
        (abs(GraftFunctions.kmv_intersect_estimate(col("sk_u0"), col("sk_u1"))
          - col("exact_users_both")) / col("exact_users") <= 0.1)
          .as("users_intersect_ok"),
        (abs(GraftFunctions.kmv_jaccard(col("sk_u0"), col("sk_u1"))
          - col("exact_users_both").cast("double") / col("exact_users")) <= 0.1)
          .as("users_jaccard_ok"))
    }),

    // KMV wire contract, asserted against INDEPENDENT implementations (see
    // WIRE.md): (a) wire_exact — the exported sketch contents equal the
    // bottom-k distinct values of Spark's own xxhash64 builtin in unsigned
    // order (sign-bit flip = unsigned sort), computed with generic SQL
    // array ops that never touch the sketch code; (b) roundtrip_exact —
    // kmv_import(kmv_export(s)) estimates identically (byte-identical
    // rebuild); (c) replay_exact — the estimate re-derived from the wire
    // row with PLAIN SQL arithmetic (n < k ? n : (k-1)*2^64/unsigned(h_k))
    // matches kmv_estimate bit-for-bit, the "any engine can consume this"
    // claim executed. The collect_set side is verification-only (it holds
    // every distinct hash; production reads the kilobyte sketch).
    // CMS row wire: export the non-zero counters as SQL rows + per-item
    // positions, replay the point query as a plain join/group-min over that
    // data (the engine-portable handshake — no murmur needed on the
    // consuming side), and round-trip import back to the identical sketch.
    // All booleans are hard TRUE: replay must equal cms_query exactly, and
    // at width 2048 over a handful of event types the sketch is
    // collision-free, so the estimate equals the exact count.
    "hll_cms_wire_roundtrip" -> ((s, dir) => {
      val ev = events(s, dir)
      val depth = 5
      val width = 2048
      val sk = ev.agg(GraftFunctions.cms_sketch_agg(col("event_type"), depth, width).as("_sk"))
        .withColumn("_w", GraftFunctions.cms_export(col("_sk")))
        .localCheckpoint() // 1 row; cells, cross-join, and import all reuse it
      val cells = sk.select(explode(col("_w.cells")).as("_c"))
        .select(col("_c.d").as("d"), col("_c.w").as("w"), col("_c.n").as("n"))
      val types = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      val pos = types.select(col("event_type"),
        posexplode(GraftFunctions.cms_positions(col("event_type"), depth, width))
          .as(Seq("d", "w")))
      // absent cell = 0 (sparse export): left join, coalesce, min over rows
      val replayed = pos.join(cells, Seq("d", "w"), "left")
        .groupBy(col("event_type"))
        .agg(min(coalesce(col("n"), lit(0L))).as("_replayed"))
      types.join(replayed, Seq("event_type"))
        .crossJoin(broadcast(sk))
        .select(col("event_type"), col("exact_n"),
          (GraftFunctions.cms_import(col("_w")) === col("_sk")).as("roundtrip_exact"),
          (col("_replayed") ===
            GraftFunctions.cms_query(col("_sk"), col("event_type"))).as("replay_exact"),
          (GraftFunctions.cms_query(col("_sk"), col("event_type"))
            === col("exact_n")).as("est_exact"))
        .orderBy(col("event_type"))
    }),

    // CMS warehouse rollup: per-day frequency sketches union (element-wise
    // addition) to EXACTLY the sketch a single pass over all events builds
    // — merged-vs-direct byte equality is the strongest possible rollup
    // check, and collision-free sizing makes every per-type lookup exact.
    "hll_cms_reagg" -> ((s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("_d"))
        .agg(GraftFunctions.cms_sketch_agg(col("event_type"), 5, 2048).as("_sk"))
      val merged = daily.agg(
        GraftFunctions.cms_union_agg(col("_sk")).as("_m"),
        count(lit(1)).as("n_days"))
      val direct = ev.agg(
        GraftFunctions.cms_sketch_agg(col("event_type"), 5, 2048).as("_dir"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      exact.crossJoin(broadcast(merged.crossJoin(direct)))
        .select(col("event_type"), col("exact_n"), col("n_days"),
          (col("_m") === col("_dir")).as("merge_exact"),
          (GraftFunctions.cms_query(col("_m"), col("event_type"))
            === col("exact_n")).as("est_exact"))
        .orderBy(col("event_type"))
    }),

    // MG warehouse rollup: per-day heavy-hitter sketches union with the
    // standard MG decrement; at capacity >= distinct the rollup stays
    // exact, so every merged count equals the raw per-type count.
    "hll_topk_reagg" -> ((s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("_d"))
        .agg(GraftFunctions.topk_sketch_agg(col("event_type"), 64).as("_sk"))
      val merged = daily.agg(
        GraftFunctions.topk_union_agg(col("_sk")).as("_m"),
        count(lit(1)).as("n_days"))
      val entries = merged.select(col("n_days"),
          explode(GraftFunctions.topk_export(col("_m")).getField("entries")).as("_e"))
        .select(col("_e.item").as("event_type"), col("_e.n").as("_mg_n"), col("n_days"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      entries.join(exact, Seq("event_type"), "full")
        .select(col("event_type"), col("exact_n"), col("n_days"),
          (col("_mg_n") === col("exact_n")).as("mg_exact"))
        .orderBy(col("event_type"))
    }),

    // GK row wire: export the complete quantile-summary state (the textbook
    // (v, g, delta) tuples), replay the median query from those rows with
    // the classic GK rank rule, and verify BOTH the replayed answer and
    // gk_quantile's own answer sit within rank relErr*n of the true median
    // against the raw data. The bound is the GK theorem (post-compress
    // max(g+delta) <= 2*relErr*n), so every boolean is hard TRUE.
    "hll_gk_wire_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val l = t(s, dir, "lineitem")
      val relErr = 0.01
      val qv = 0.5
      val sk = l.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.gk_sketch_agg(col("l_quantity"), relErr).as("_sk"),
          count(lit(1)).as("exact_n"))
        .withColumn("_w", GraftFunctions.gk_export(col("_sk")))
        .localCheckpoint()
      // classic GK answer from the exported tuples alone: first tuple (in
      // value order) whose [minRank, minRank+delta] sits within rank +- eps
      val tup = sk.select(col("l_returnflag"),
          col("_w.count").as("_cnt"), col("_w.rel_err").as("_re"),
          posexplode(col("_w.tuples")).as(Seq("_i", "_t")))
        .withColumn("_minRank",
          sum(col("_t.g")).over(Window.partitionBy("l_returnflag").orderBy("_i")))
        .withColumn("_rank", ceil(lit(qv) * col("_cnt")))
        .withColumn("_eps", col("_re") * col("_cnt"))
      val firstHit = tup.filter(
          (col("_minRank") + col("_t.delta") - col("_eps") <= col("_rank")) &&
          (col("_rank") <= col("_minRank") + col("_eps")))
        .groupBy(col("l_returnflag"))
        .agg(min_by(col("_t.v"), col("_i")).as("_hit"))
      val lastV = tup.groupBy(col("l_returnflag"))
        .agg(max_by(col("_t.v"), col("_i")).as("_last"))
      val replay = lastV.join(firstHit, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), coalesce(col("_hit"), col("_last")).as("_replay"))
      val both = sk.join(replay, Seq("l_returnflag"))
        .withColumn("_gkv", GraftFunctions.gk_quantile(col("_sk"), lit(qv)))
      // true rank brackets of each answer, from the raw column
      val ranks = l.select(col("l_returnflag"), col("l_quantity"))
        .join(broadcast(both.select(col("l_returnflag"), col("_replay"), col("_gkv"))),
          Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") < col("_replay"), 1L).otherwise(0L)).as("_rep_lt"),
          sum(when(col("l_quantity") <= col("_replay"), 1L).otherwise(0L)).as("_rep_le"),
          sum(when(col("l_quantity") < col("_gkv"), 1L).otherwise(0L)).as("_gk_lt"),
          sum(when(col("l_quantity") <= col("_gkv"), 1L).otherwise(0L)).as("_gk_le"))
      def inBound(lt: org.apache.spark.sql.Column, le: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val rank = ceil(lit(qv) * n)
        val eps = lit(relErr) * n
        (rank - eps <= le) && (lt + lit(1L) <= rank + eps)
      }
      both.join(ranks, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_n"),
          (GraftFunctions.gk_import(col("_w")) === col("_sk")).as("roundtrip_exact"),
          inBound(col("_rep_lt"), col("_rep_le"), col("exact_n")).as("replay_in_bound"),
          inBound(col("_gk_lt"), col("_gk_le"), col("exact_n")).as("gk_in_bound"))
        .orderBy(col("l_returnflag"))
    }),

    // Misra-Gries row wire: stored-binary MG sketch on event_type at a
    // capacity above the distinct count (the exact regime — results are
    // partition-order independent), exported entries joined against the
    // exact counts; semantic roundtrip through topk_import. The oracle
    // recomputes every (item, count) pair from raw events.
    "hll_topk_wire_roundtrip" -> ((s, dir) => {
      val ev = events(s, dir)
      val sk = ev.agg(GraftFunctions.topk_sketch_agg(col("event_type"), 64).as("_sk"))
        .withColumn("_w", GraftFunctions.topk_export(col("_sk")))
        .localCheckpoint()
      val entries = sk.select(
          (GraftFunctions.topk_export(GraftFunctions.topk_import(col("_w")))
            === col("_w")).as("roundtrip_exact"),
          explode(col("_w.entries")).as("_e"))
        .select(col("_e.item").as("event_type"), col("_e.n").as("mg_n"),
          col("roundtrip_exact"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      entries.join(exact, Seq("event_type"), "full")
        .select(col("event_type"), col("exact_n"),
          (col("mg_n") === col("exact_n")).as("mg_exact"),
          col("roundtrip_exact"))
        .orderBy(col("event_type"))
    }),

    "hll_kmv_wire_roundtrip" -> ((s, dir) => {
      val ev = events(s, dir)
      val kk = 1024
      val signBit = lit(Long.MinValue)
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), kk).as("_sk"),
          countDistinct(col("user_id")).as("exact_users"),
          collect_set(xxhash64(col("user_id").cast("string"))).as("_all"))
        .withColumn("_w", GraftFunctions.kmv_export(col("_sk")))
      val bottom = transform(
        slice(array_sort(transform(col("_all"), h => h.bitwiseXOR(signBit))),
          1, kk),
        h => h.bitwiseXOR(signBit))
      val n = size(col("_w.hashes"))
      val hk = element_at(col("_w.hashes"), n) // ascending unsigned: last = h_k
      val twoTo64 = lit(1.8446744073709552e19)
      val uHk = when(hk >= 0, hk.cast("double"))
        .otherwise(hk.cast("double") + twoTo64)
      val replay = when(n < col("_w.k"), n.cast("double"))
        .otherwise((col("_w.k") - 1).cast("double") * twoTo64 / uHk)
      sk.select(col("event_type"), col("exact_users"),
          (col("_w.hashes") === bottom).as("wire_exact"),
          (GraftFunctions.kmv_estimate(GraftFunctions.kmv_import(col("_w")))
            === GraftFunctions.kmv_estimate(col("_sk"))).as("roundtrip_exact"),
          (replay === GraftFunctions.kmv_estimate(col("_sk"))).as("replay_exact"),
          (abs(GraftFunctions.kmv_estimate(col("_sk")) - col("exact_users"))
            / col("exact_users") <= 0.1).as("est_ok"))
        .orderBy(col("event_type"))
    }),

    // Audience-overlap matrix from stored KMV sketches: one scan builds a
    // sketch per event_type, then every pairwise intersection/Jaccard comes
    // from kilobyte sketch values — the |types|^2 pair join never touches
    // raw events. At 100 TB with daily per-segment sketch tables this is
    // the whole point of KMV: any-segment-vs-any-segment overlap without a
    // rescan. Exact sides recomputed in-query from a distinct (user, type)
    // projection; tolerances are union-relative (the honest contract for
    // intersections).
    "hll_kmv_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      // materialize the |types|-row sketch table and the distinct (user,
      // type) projection once: both feed two join branches each, and
      // without the checkpoint Catalyst re-runs the full event scan per
      // branch (4 scans). The exact side exists only to verify the sketch
      // math — production overlap matrices read the sketch table alone.
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk"),
          countDistinct(col("user_id")).as("nd"))
        .localCheckpoint()
      val a = sk.select(col("event_type").as("et_a"), col("sk").as("sk_a"),
        col("nd").as("exact_a"))
      val b = sk.select(col("event_type").as("et_b"), col("sk").as("sk_b"),
        col("nd").as("exact_b"))
      val pairs = a.join(b, col("et_a") < col("et_b"))
      val ut = ev.select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint()
      val exactBoth = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
        .agg(count(lit(1)).as("exact_both"))
      val u = col("exact_a") + col("exact_b") - col("exact_both")
      pairs.join(exactBoth, Seq("et_a", "et_b"))
        .select(col("et_a"), col("et_b"),
          col("exact_a"), col("exact_b"), col("exact_both"),
          (abs(GraftFunctions.kmv_intersect_estimate(col("sk_a"), col("sk_b"))
            - col("exact_both")) / u <= 0.1).as("intersect_ok"),
          (abs(GraftFunctions.kmv_jaccard(col("sk_a"), col("sk_b"))
            - col("exact_both").cast("double") / u) <= 0.1).as("jaccard_ok"))
        .orderBy(col("et_a"), col("et_b"))
    }),

    // Theta-sketch-style set DIFFERENCE on stored KMV sketches: a-not-b as
    // (A-only fraction of the merged bottom-k union sample) x (union
    // estimate from the same sample) — no inclusion-exclusion cancellation,
    // so the error stays union-relative even when |A \ B| is tiny. Checked
    // in both directions on the overlapping user halves and against the
    // provably disjoint event-id halves (difference = |A| there).
    "hll_kmv_difference" -> ((s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sk = half.groupBy(col("half")).agg(
        GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk_u"),
        GraftFunctions.kmv_sketch_agg(col("event_id"), 1024).as("sk_e"))
      val pair = sk.agg(
        max(when(col("half") === 0, col("sk_u"))).as("sk_u0"),
        max(when(col("half") === 1, col("sk_u"))).as("sk_u1"),
        max(when(col("half") === 0, col("sk_e"))).as("sk_e0"),
        max(when(col("half") === 1, col("sk_e"))).as("sk_e1"))
      val exact = half.groupBy(col("user_id"))
        .agg(max(when(col("half") === 0, 1).otherwise(0)).as("_h0"),
          max(when(col("half") === 1, 1).otherwise(0)).as("_h1"),
          countDistinct(when(col("half") === 0, col("event_id"))).as("_ne0"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_h0") === 1 && col("_h1") === 0, 1L).otherwise(0L))
            .as("exact_a_only"),
          sum(when(col("_h1") === 1 && col("_h0") === 0, 1L).otherwise(0L))
            .as("exact_b_only"),
          sum(col("_ne0")).as("exact_events_a"))
      pair.crossJoin(exact).select(
        col("exact_union"), col("exact_a_only"), col("exact_b_only"),
        col("exact_events_a"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_u0"), col("sk_u1"))
          - col("exact_a_only")) / col("exact_union") <= 0.1).as("diff_a_ok"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_u1"), col("sk_u0"))
          - col("exact_b_only")) / col("exact_union") <= 0.1).as("diff_b_ok"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_e0"), col("sk_e1"))
          - col("exact_events_a")) / col("exact_events_a") <= 0.1)
          .as("diff_disjoint_ok"))
    }),

    // N-way KMV intersection: the view∩click∩purchase audience from three
    // stored sketches in ONE union-sample pass — inclusion-exclusion over
    // n sets needs 2^n-1 alternating HLL terms whose noise compounds;
    // kmv_intersect_n classifies each sampled hash once.
    "hll_kmv_triple" -> ((s, dir) => {
      val types = Seq("view", "click", "purchase")
      val ev = events(s, dir).filter(col("event_type").isin(types: _*))
      val pivoted = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk"))
        .agg(
          max(when(col("event_type") === "view", col("sk"))).as("sk_v"),
          max(when(col("event_type") === "click", col("sk"))).as("sk_c"),
          max(when(col("event_type") === "purchase", col("sk"))).as("sk_p"))
      val exact = ev.select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("_nt"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("_nt") === 3, 1L).otherwise(0L)).as("exact_all3"))
      pivoted.crossJoin(exact).select(
        col("exact_union"), col("exact_all3"),
        (abs(GraftFunctions.kmv_intersect_n(col("sk_v"), col("sk_c"), col("sk_p"))
          - col("exact_all3")) / col("exact_union") <= 0.1).as("triple_ok"))
    }),

    // Sketch Jaccard between the two event halves: the user-overlap ratio
    // without ever materializing the sets. Exact side recomputed in-query;
    // the tolerance is generous because inclusion-exclusion noise compounds
    // in the ratio.
    "hll_jaccard_halves" -> ((s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_intersect"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_intersect"),
        round(col("exact_intersect").cast("double") / col("exact_union"), 4)
          .as("exact_jaccard"),
        (abs(GraftFunctions.hll_jaccard_estimate(col("sk_a"), col("sk_b"))
          - col("exact_intersect").cast("double") / col("exact_union"))
          <= 0.05).as("jaccard_ok"))
    }),

    // ---- training-data pipeline: similarity search ----

    // embedding-corpus audit: the sanity gate before any ANN/near-dup run
    // (NaN or zero vectors poison cosine math silently)
    "sim_embedding_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val nrm = graft.operators.Similarity.norm(col("embedding"))
      e.select(nrm.as("_n"),
          exists(col("embedding"), x => isnan(x)).as("_has_nan"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("_has_nan"), 1L).otherwise(0L)).as("n_nan"),
          sum(when(col("_n") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(min(col("_n")), 4).as("norm_min"),
          round(avg(col("_n")), 4).as("norm_avg"),
          round(max(col("_n")), 4).as("norm_max"))
    }),

    // Affine int8 embedding quantization — 1 byte/dim vs 4 (the difference
    // between a 100 TB and a 25 TB embedding store). One map-side-combined
    // calibration pass (vec_minmax_agg), then map-only quantize/dequantize.
    // The oracle independently re-derives every per-dimension (mn, mx) via
    // unnest+group, and bound_ok asserts the analytic guarantee Spark-side:
    // every vector reconstructs within half a quantization step in EVERY
    // dimension (hard TRUE — it is a theorem, not a tolerance).
    "sim_int8_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mm = emb.agg(GraftFunctions.vec_minmax_agg(col("embedding")).as("_r"),
          count(lit(1)).as("n_vecs")).localCheckpoint()
      val deq = GraftFunctions.vec_dequantize8(
        GraftFunctions.vec_quantize8(col("embedding"), col("_r")), col("_r"))
      val rowOk = forall(
        zip_with(
          zip_with(col("embedding").cast("array<double>"), deq,
            (a, b) => abs(a - b)),
          transform(col("_r"),
            r => (r.getField("mx") - r.getField("mn")) / lit(510.0) + lit(1e-9)),
          (err, half) => err <= half),
        x => x)
      val ok = emb.crossJoin(broadcast(mm))
        .agg(min(rowOk).as("bound_ok"))
      mm.select(col("n_vecs"), posexplode(col("_r")).as(Seq("pos", "r")))
        .select(col("pos"), round(col("r.mn"), 6).as("mn"),
          round(col("r.mx"), 6).as("mx"), col("n_vecs"))
        .crossJoin(broadcast(ok))
        .orderBy(col("pos"))
    }),

    "sim_bruteforce_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
          q, "qid", "qvec", k = 10, excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN contract shape: approximate top-k joined against the exact
    // brute-force top-k computed in the same query (cheap — 5 query vectors),
    // emitting per-query result count and recall@10. The recall values are
    // deterministic (fixed seeds/centroids) and golden-locked in the oracle;
    // n_results is structurally k. DuckDB cannot reproduce the index side,
    // but it CAN attest the locked recall stays put run over run.
    "sim_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = graft.operators.Similarity.fitCentroids(e, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.ivfTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cents, k = 10, nprobe = 4, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    // LSH-bucketed ANN (the no-corpus-shuffle scale path): multi-table
    // sign-bit hyperplane buckets + Hamming-1 multi-probe on the broadcast
    // query side; only candidate pairs are ever shuffled
    "sim_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 4, 64)
      val approx = graft.operators.Similarity.lshTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", planes, k = 10, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    // IVF index maintenance: a collapsed append batch must trigger the
    // refit executor for its hot bucket ONLY — frozen slots keep their
    // exact centroids — and re-running the fit stats against the updated
    // centroids (batch folded into the corpus) must show the batch fitting
    // its bucket tightly. All three invariants are deterministic booleans
    // (fixed seeds and centroids), so the oracle asserts them as hard
    // invariants, est_ok-style.
    "sim_ivf_refit" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 2 === 0)
      val cents = graft.operators.Similarity.fitCentroids(corpus, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val collapsed = corpus.limit(200).withColumn("embedding",
        expr("transform(embedding, x -> float(0.1))"))
      val (updated, _, refit) = graft.operators.Similarity.ivfRefit(
        corpus, collapsed, "embedding", "vec_id", cents, fitDropThreshold = 0.2)
      val frozenOk = cents.indices.filterNot(refit.contains)
        .forall(b => updated(b).toSeq == cents(b).toSeq)
      val fitNew = graft.operators.Similarity.ivfAppendStats(
          corpus.unionByName(collapsed), collapsed, "embedding", updated)
        .filter(col("n_new") > 0)
        .agg(min(col("fit_new"))).collect()(0).getDouble(0)
      Seq((cents.length, refit.nonEmpty, frozenOk, fitNew > 0.99))
        .toDF("n_buckets", "refit_triggered", "frozen_ok", "fit_recovered")
    }),

    // Streaming ANN index maintenance, batch-replayed through the EXACT
    // streaming code path (StreamingAnnIndex.maintainBatch drives both):
    // batch 0 bootstraps the centroid store, an in-distribution batch must
    // NOT refit (store byte-stable), a collapsed batch appended with HIGHER
    // ids — the append shape that exercises the per-side sample budgets —
    // must refit its hot bucket only (frozen slots byte-identical), and the
    // collapsed slice re-statted under the swapped-in store must fit
    // tightly. All invariants are deterministic booleans (fixed stores,
    // fixed seeds), asserted hard by the oracle, sim_ivf_refit-style.
    "sim_ann_maintain" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_annidx")
      val paths = graft.streaming.StreamingAnnIndex.IndexPaths(
        tmp.resolve("index").toString)
      // fitDropThreshold sits above the bootstrap's in-sample/out-of-sample
      // fit gap (~0.22 here, where the 500-sample covers the whole 250-row
      // toy batch — see the Config scaladoc); the collapse is detected by
      // share_drift, which has no in/out-of-sample asymmetry.
      val cfg = graft.streaming.StreamingAnnIndex.Config(
        nlist = 16, sampleSize = 500, fitDropThreshold = 0.35)
      val b0 = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      val b1 = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      val collapsed = b0.limit(200)
        .withColumn("embedding", expr("transform(embedding, x -> float(0.1))"))
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      def step(b: org.apache.spark.sql.DataFrame, id: Long) =
        graft.streaming.StreamingAnnIndex.maintainBatch(
          s, b, "vec_id", "embedding", paths, cfg, id)
      val r0 = step(b0, 0L)
      val c0 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val r1 = step(b1, 1L)
      val c1 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val r2 = step(collapsed, 2L)
      val c2 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val stable = r1.isEmpty &&
        c0.indices.forall(b => c1(b).toSeq == c0(b).toSeq)
      val frozenOk = c1.indices.filterNot(r2.contains)
        .forall(b => c2(b).toSeq == c1(b).toSeq)
      val fitNew = graft.operators.Similarity.ivfAppendStats(
          b0.unionByName(b1).unionByName(collapsed), collapsed, "embedding", c2)
        .filter(col("n_new") > 0)
        .agg(min(col("fit_new"))).collect()(0).getDouble(0)
      Seq((cfg.nlist, r0.isEmpty && c0.length == cfg.nlist, stable,
          r2.nonEmpty, frozenOk, fitNew > 0.99))
        .toDF("n_buckets", "bootstrap_ok", "indist_stable",
          "refit_on_shift", "frozen_ok", "fit_recovered")
    }),

    // PQ-compressed ANN (the 100 TB storage layout: byte codes + ADC scan +
    // exact re-rank); same recall-vs-in-query-brute-force contract shape
    "sim_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cbs = graft.operators.Similarity.fitPqCodebooks(e, "embedding", "vec_id",
        m = 8, ksub = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.pqTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cbs, k = 10, refine = 8, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    // IVF-PQ composition (coarse pruning x byte codes): the billion-scale
    // index shape; same recall contract as the other ANN queries
    "sim_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = graft.operators.Similarity.fitCentroids(e, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val cbs = graft.operators.Similarity.fitPqCodebooks(e, "embedding", "vec_id",
        m = 8, ksub = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.ivfPqTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cents, cbs, k = 10, nprobe = 6, refine = 8, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    }),

    // ---- training-data pipeline: text analysis ----

    "tx_token_counts" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens_ws"),
          graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer trained ON the corpus (Bpe.train: one distributed pass
    // to the word-frequency table, bounded driver merge loop — the split
    // every production tokenizer trainer uses) then applied with the
    // map-only native encoder. Contract: the FIRST merge rule is
    // independently re-derived by DuckDB (most frequent adjacent character
    // pair of the word table, same tie-break); roundtrip/compression/
    // determinism are hard Spark-side invariants, sim_ivf_refit-style.
    "tx_bpe_tokenize" -> ((s, dir) => {
      // hash-spread: both train passes' word explode and the per-doc BPE
      // encode are fused to the one-row-group scan otherwise (r14 profile:
      // 0.89 s max task of 1.13 s CPU); word counts and the encode
      // roundtrip aggregate are exact integers, partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      // nMerges=50 stays safely below vocabulary exhaustion (the synthetic
      // corpus builds from a bounded word list and fully merges at ~89
      // rules), so the merge count is the constant the oracle predicts;
      // early-stop behavior at the exhaustion/floor boundary is
      // BpeSpec-covered
      val merges = graft.operators.Bpe.train(d, "text", nMerges = 50)
      val merges2 = graft.operators.Bpe.train(d, "text", nMerges = 50)
      val enc = graft.operators.Bpe.encode(col("text"), merges)
      val words = filter(split(lower(col("text")), "[^\\p{L}]+"),
        w => w =!= "")
      d.select(concat_ws("", enc).as("_tj"),
          concat_ws("", words).as("_wj"),
          size(enc).cast("long").as("_ntok"))
        .agg(count(lit(1)).as("_docs"),
          sum(when(col("_tj") === col("_wj"), 1L).otherwise(0L)).as("_rt"),
          sum(col("_ntok")).as("_tok"),
          sum(length(col("_wj")).cast("long")).as("_chr"))
        .select(
          lit(merges.head._1 + " " + merges.head._2).as("first_merge"),
          lit(merges.length).as("n_merges"),
          (col("_rt") === col("_docs")).as("roundtrip_ok"),
          (col("_tok") < col("_chr")).as("compresses"),
          lit(merges == merges2).as("deterministic_ok"))
    }),

    // RAG-style overlapping-window chunking: 64-token windows at stride 48
    // (16-token overlap), built with higher-order functions (sequence →
    // transform → slice → aggregate) — pure map work, no shuffle until the
    // per-doc stats. chunk_tokens sums actual slice lengths (the last
    // window is usually truncated), re-derived independently by the oracle.
    "tx_chunking" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.selectExpr("doc_id",
          "filter(split(lower(text), '[^\\\\p{L}]+'), x -> x != '') as ws")
        .selectExpr("doc_id", "cast(size(ws) as bigint) as n_tok",
          """case when size(ws) = 0 then array()
            |else transform(sequence(0, cast(floor((size(ws)-1)/48) as int)),
            |               i -> slice(ws, i*48+1, 64)) end as chunks""".stripMargin)
        .selectExpr("doc_id", "n_tok",
          "cast(size(chunks) as bigint) as n_chunks",
          "aggregate(chunks, 0L, (acc, c) -> acc + size(c)) as chunk_tokens")
        .orderBy(col("doc_id"))
    }),

    // End-to-end corpus release pipeline: quality gate (>=0.8 on the
    // closed-form score) → minhash near-dedup (exact-Jaccard-verified,
    // min-id representative) → GPT-style sequence packing of the
    // survivors. Each stage's operator is oracle-checked individually
    // elsewhere; this query proves they COMPOSE — DuckDB re-derives the
    // whole pipeline (quality formula + recursive dup closure + cumsum
    // pack) from raw text. The checkpoint bounds re-scans: the quality
    // gate's survivor set feeds both the dedup pass and the packer.
    "tx_release_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val scored = d
        .withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .withColumn("q", graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")))
        .filter(col("q") >= 0.8)
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val unique = graft.operators.Dedup.nearDedup(
        scored, "text", "doc_id", threshold = 0.5)
      val budget = 1024
      val toks = unique.select(col("doc_id"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      toks.withColumn("cum_end", sum(col("n_tok")).over(w))
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
        .withColumn("bin_first",
          floor(col("cum_start") / lit(budget.toDouble)).cast("long"))
        .withColumn("bin_last",
          when(col("n_tok") > 0, floor((col("cum_end") - 1) / lit(budget.toDouble)))
            .otherwise(col("bin_first")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum((col("bin_last") > col("bin_first")).cast("long")).as("n_split_docs"))
        .withColumn("n_seqs",
          ceil(col("total_tokens") / lit(budget.toDouble)).cast("long"))
        .withColumn("fill_ratio",
          round(col("total_tokens") / (col("n_seqs") * budget), 4))
        .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          col("n_split_docs"), col("fill_ratio"))
        .orderBy(col("shard"))
    }),

    // GPT-style sequence packing: concatenate documents in shard-local id
    // order, chop into fixed 1024-token training sequences, report per-shard
    // packing stats (docs split across a boundary, fill ratio). Shards are
    // fully independent — at 100 TB the shard key becomes pmod(xxhash64(id),
    // nShards) with nShards ~ cluster parallelism; id % 8 here keeps the
    // DuckDB oracle byte-portable. Only exchange: the per-shard window
    // cumsum; stats collapse to one row per shard.
    "tx_sequence_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 1024
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      toks.withColumn("cum_end", sum(col("n_tok")).over(w))
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
        .withColumn("bin_first",
          floor(col("cum_start") / lit(budget.toDouble)).cast("long"))
        // empty docs occupy no tokens: pin them to bin_first so they never
        // count as boundary-split
        .withColumn("bin_last",
          when(col("n_tok") > 0, floor((col("cum_end") - 1) / lit(budget.toDouble)))
            .otherwise(col("bin_first")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum((col("bin_last") > col("bin_first")).cast("long")).as("n_split_docs"))
        .withColumn("n_seqs", ceil(col("total_tokens") / lit(budget.toDouble)).cast("long"))
        .withColumn("fill_ratio",
          round(col("total_tokens") / (col("n_seqs") * budget), 4))
        .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          col("n_split_docs"), col("fill_ratio"))
        .orderBy(col("shard"))
    }),

    // BM25 corpus search: top-20 documents for a fixed term set, scored by
    // the Okapi/Lucene +1-idf formula — exactly re-derivable in SQL
    "tx_bm25" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.bm25TopK(d, "doc_id", "text",
        Seq("spark", "shuffle", "vector"), k = 20)
    }),
    // Exact corpus vocabulary ranking: explode collapses under map-side
    // combine (shuffle bounded by vocab × tasks), final top-k is
    // TakeOrdered. The baseline "what's in this corpus" report.
    "tx_word_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.wordFrequencies(d, "text")
        .orderBy(col("n").desc, col("term")).limit(40)
    }),
    // Unigram-LM surprisal quality scores per document (see
    // TextAnalysis.unigramSurprisal): high mean −log2 p = improbable junk,
    // near-lower-bound = most-common-word boilerplate.
    "tx_surprisal" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.unigramSurprisal(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // intra-document repetition (Gopher-style boilerplate/looping filter):
    // single-pass native struct, exact-checkable against a SQL re-derivation
    "tx_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.bigramRepetition(col("text")).as("_r"))
        .select(col("doc_id"),
          col("_r.n_bigrams").as("n_bigrams"),
          round(col("_r.top_bigram_frac"), 4).as("top_bigram_frac"),
          round(col("_r.dup_bigram_frac"), 4).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // Span-granular repetition audit: per-doc suffix automaton (linear
    // time, pure map work) -> longest repeated substring + distinct-
    // substring ratio, folded to a corpus report. Bigram fractions
    // (tx_repetition) see local stutter; this sees whole repeated
    // templates. n_docs is oracle-derived; the automaton fields are
    // deterministic goldens.
    "tx_repeated_span" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(graft.operators.TextAnalysis.repeatedSpanStats(col("text")).as("r"))
        .select(col("r.longest_rep_len").as("_lrl"),
          col("r.distinct_ratio").as("_ratio"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("_lrl")).as("max_longest"),
          sum(col("_lrl").cast("long")).as("sum_longest"),
          round(avg(col("_ratio")), 4).as("avg_distinct_ratio"),
          sum(when(col("_ratio") < 0.98, 1L).otherwise(0L)).as("n_repetitive"))
    }),

    // as-of join: latest order at-or-before each event per customer
    // (right side deduplicated to one row per (custkey, date) so the
    // at-equal-time winner is deterministic)
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.operators.AsofJoin.asofJoin(
          ev, o,
          leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"),
          leftTime = "ts", rightTime = "o_orderdate",
          rightCols = Seq("o_orderkey", "o_orderdate"))
        .select(col("event_id"), col("asof_o_orderkey"),
          date_format(col("asof_o_orderdate"), "yyyy-MM-dd").as("asof_date"))
        .orderBy(col("event_id"))
    }),

    // winnowing fingerprints: substring-level overlap among consecutive doc
    // ids (bounded deterministic pair set), summarized — the fingerprint
    // hashes are ours (no SQL oracle can recompute them), so the contract
    // emits the pair count (oracle-computable) plus golden-locked overlap
    // statistics; per-pair behavior is unit-tested in AsofWinnowSpec.
    "tx_winnow_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val fp = d.select(col("doc_id"),
        graft.operators.TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
      val a = fp.select(col("doc_id").as("id1"), col("fp").as("fp1"))
      val b = fp.select(col("doc_id").as("id2"), col("fp").as("fp2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(graft.operators.Dedup.sortedJaccard(col("fp1"), col("fp2")).as("overlap"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("overlap") > 0, 1L).otherwise(0L)).as("n_pos_overlap"),
          round(avg(col("overlap")), 4).as("mean_overlap"),
          round(max(col("overlap")), 4).as("max_overlap"))
    }),

    // deterministic training-mix: per-source rates + stable hash sampling,
    // with a reproducible train/val/test split column
    "tx_training_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
      graft.operators.Sampling.trainingMix(d, "source", "doc_id", rates)
        .withColumn("split", graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("split"))
    }),

    // contamination audit: doc-vs-doc substring overlap between two source
    // partitions of the corpus (deterministic; self-pairs excluded by side)
    "tx_contamination" -> ((s, dir) => {
      // hash-spread: the winnowing fingerprint pass is fused to the
      // one-row-group scan otherwise (r14 profile: 0.52 s max task);
      // posting caps, totals and overlap counts are exact integers,
      // partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      // audit summary (always >= 1 row): contaminated pairs at several
      // thresholds; the clean synthetic corpus legitimately reports zeros
      val pairs = graft.operators.Contamination.overlap(
        a, "doc_id", "text", b, "doc_id", "text", threshold = 0.05)
      pairs.agg(
          count(lit(1)).as("pairs_at_005"),
          sum(when(col("overlap") >= 0.3, 1L).otherwise(0L)).as("pairs_at_03"),
          sum(when(col("overlap") >= 0.8, 1L).otherwise(0L)).as("pairs_at_08"))
        .na.fill(0L)
    }),

    // Bloom-pruned contamination audit: MUST report the numbers
    // tx_contamination reports (the prune is recall-exact — Bloom false
    // positives only add candidates the join discards), while shuffling
    // only the A fingerprints that might exist in B. The shared golden
    // oracle IS the equivalence check, driver-verified.
    "tx_contamination_pruned" -> ((s, dir) => {
      // hash-spread: the winnowing fingerprint pass is fused to the
      // one-row-group scan otherwise (r14 profile: 0.52 s max task);
      // posting caps, totals and overlap counts are exact integers,
      // partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      val pairs = graft.operators.Contamination.overlapPruned(
        a, "doc_id", "text", b, "doc_id", "text", threshold = 0.05,
        expectedBFingerprints = 1L << 20)
      pairs.agg(
          count(lit(1)).as("pairs_at_005"),
          sum(when(col("overlap") >= 0.3, 1L).otherwise(0L)).as("pairs_at_03"),
          sum(when(col("overlap") >= 0.8, 1L).otherwise(0L)).as("pairs_at_08"))
        .na.fill(0L)
    }),

    // Sketch-only shard triage: per-source KMV sketches over winnowing
    // fingerprints, pairwise overlap estimates from kilobyte sketch values
    // — the "which shards look contaminated" report with no fingerprint
    // join at all. Estimates are deterministic (fixed hash, fixed data),
    // golden-locked like the other sketch surfaces.
    "tx_shard_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      graft.operators.Contamination.groupOverlapMatrix(
          a, "source", "text", b, "source", "text")
        .orderBy(col("a_group"), col("b_group"))
    }),

    // deterministic per-group sample: 3 docs per source by scrambled-id
    // order (stable across partitionings; arithmetic scramble is engine-
    // portable so the oracle can replicate it)
    "q_group_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val w = Window.partitionBy(col("source"))
        .orderBy(pmod(col("doc_id") * 2654435761L, lit(1000000007L)), col("doc_id"))
      d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy(col("source"), col("rn"))
    }),

    // Engine-portable TABLESAMPLE: deterministic two-round LCG scramble of
    // the key replaces the RNG behind TABLESAMPLE/df.sample, so the sampled
    // row set is partition-invariant and bit-replayable by the oracle. The
    // predicate folds into the parquet scan (no shuffle, no extra pass);
    // aggregation is over exact cents so the sums hash-match.
    "q_tablesample" -> ((s, dir) => {
      val sampled = graft.operators.Sampling.portableSample(
        t(s, dir, "orders"), "o_orderkey", 0.1)
      sampled.groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("o_orderstatus"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    // priority = ln(u)/w with u from the same engine-portable Knuth hash as
    // q_group_sample and w = n_chars (length-weighted; production would use
    // a quality score). Top-20 by priority IS a weighted sample — fully
    // deterministic, re-derivable in SQL. TakeOrdered does the selection
    // (no global sort); the row_number runs over the 20 survivors only.
    "q_weighted_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val u = (pmod(col("doc_id") * 2654435761L, lit(1000000007L)) + 1)
        .cast("double") / 1000000008.0
      val pr = log(u) / col("n_chars")
      val top = d.select(col("doc_id"), col("n_chars"), pr.as("_pr"))
        .orderBy(col("_pr").desc, col("doc_id")).limit(20)
      // keyless window over the 20 survivors: WindowExec's "No Partition
      // Defined" warning is harmless here
      top.withColumn("rn",
          row_number().over(Window.orderBy(col("_pr").desc, col("doc_id"))))
        .select(col("rn"), col("doc_id"), col("n_chars"))
        .orderBy(col("rn"))
    }),

    // PII audit + compression-ratio quality signal over the corpus. The PII
    // regexes are RE2-compatible on purpose, so DuckDB recomputes pii_hits
    // from raw text; the deflate ratio is JVM-side, surfaced as a sanity
    // boolean (plain text compresses: ratio strictly inside (0, 1.5)).
    "tx_pii_compression" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ratio = graft.operators.TextAnalysis.compressionRatio(col("text"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.piiCount(col("text")).as("pii_hits"),
          (ratio > 0.0 && ratio < 1.5).as("compress_ok"))
        .orderBy(col("doc_id"))
    }),

    // corpus length histogram (fixed-width buckets, oracle-checkable)
    "tx_length_histogram" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(width_bucket(col("n_chars"), lit(0), lit(1000), lit(20)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))
    }),

    // ---- training-data pipeline: multimodal (REAL PNG decode via
    // javax.imageio; audio/video remain declared stubs) ----

    // real codec round-trip: deterministic PNGs (dims derived from doc_id)
    // encoded then decoded through ImageIO; the oracle predicts the decoded
    // geometry independently. ahash/size_bytes are byte-level artifacts of
    // the PNG writer, asserted in MultimodalSpec instead.
    "mm_image_features" -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngMediaFromDocuments(s, dir)
      graft.operators.Multimodal.decodeImages(media,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
        .orderBy(col("media_id"))
    }),

    // real audio codec round-trip: deterministic 16-bit PCM WAVs (geometry
    // derived from doc_id) encoded then decoded through javax.sound; the
    // oracle predicts decoded sample rate / channels / frame count
    // independently. peak/rms are byte-level codec artifacts: sanity-bounded
    // here (booleans the oracle can assert), exact values in MultimodalSpec.
    "mm_audio_features" -> ((s, dir) => {
      val media = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      graft.operators.Multimodal.decodeAudioFeatures(media,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"), col("n_frames"),
          (col("peak") > 0.0 && col("rms") > 0.0 && col("rms") <= col("peak") &&
            col("peak") <= lit(1.0)).as("pcm_ok"))
        .orderBy(col("media_id"))
    }),

    // image resize pass: aspect-preserving integer-NN downscale of the real
    // PNG corpus to maxDim=16, re-decoded through ImageIO — proving the
    // resized bytes are genuine PNGs with EXACTLY the dims the oracle
    // derives from the doc_id geometry (pure integer arithmetic both sides)
    "mm_image_resize" -> ((s, dir) => {
      val media = graft.operators.Multimodal.pngMediaFromDocuments(s, dir)
      val resized = graft.operators.Multimodal.resizeImages(media, maxDim = 16)
      graft.operators.Multimodal.decodeImages(resized,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("width"), col("height"), col("channels"))
        .orderBy(col("media_id"))
    }),

    // real FLAC codec round-trip: the SAME deterministic PCM as the WAV
    // corpus, encoded as spec-correct FLAC (verbatim subframes, CRC-8/16 +
    // MD5 integrity fields), decoded by the structural frame walk. The
    // oracle predicts the geometry independently; codec_parity pins that
    // the lossless path reproduces the WAV path's features BIT-FOR-BIT
    // (same PCM bytes, same feature math).
    "mm_flac_features" -> ((s, dir) => {
      val flac = graft.operators.Multimodal.flacMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(flac).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"))
        .orderBy(col("media_id"))
    }),

    // wild-FLAC decode: the same PCM compressed with FIXED predictors +
    // Rice residuals (even ids) or LPC subframes (odd ids), stereo frames
    // auto-decorrelated — the prediction-based shapes real .flac files
    // carry, which the verbatim contract never touches. Parity vs the WAV
    // path proves warmup + residual reconstruction + decorrelation are
    // bit-exact (each stream also MD5-self-verifies inside the decoder);
    // `compressed` pins that the predictor genuinely shrinks the bytes.
    "mm_flac_fixed" -> ((s, dir) => {
      val flac = graft.operators.Multimodal.flacCompressedMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(flac).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"),
          (col("a.size_bytes") < col("w.size_bytes")).as("compressed"))
        .orderBy(col("media_id"))
    }),

    // real OGG container demux: the same FLAC stream shipped in OGG pages
    // per the xiph mapping (page CRCs verified, packets reassembled across
    // lacing/continuation), then the same structural FLAC decode. Same
    // bit-for-bit parity contract vs the WAV path — proving the page walk
    // end-to-end, the audio sibling of mm_avi/mp4/mkv_frames.
    "mm_ogg_features" -> ((s, dir) => {
      val ogg = graft.operators.Multimodal.oggMediaFromDocuments(s, dir)
      val wav = graft.operators.Multimodal.wavMediaFromDocuments(s, dir)
      def feats(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.decodeAudioFeatures(m,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      feats(ogg).alias("a").join(feats(wav).alias("w"), "media_id")
        .select(col("media_id"),
          col("a.sample_rate").as("sample_rate"),
          col("a.channels").as("channels"),
          col("a.n_frames").as("n_frames"),
          (col("a.sample_rate") === col("w.sample_rate") &&
            col("a.channels") === col("w.channels") &&
            col("a.n_frames") === col("w.n_frames") &&
            col("a.peak") === col("w.peak") &&
            col("a.rms") === col("w.rms")).as("codec_parity"))
        .orderBy(col("media_id"))
    }),

    // audio-rate normalization, end to end through the hardest path: the
    // OGG-FLAC corpus is page-demuxed, FLAC-decoded, integer-NN resampled
    // to a uniform 16 kHz, re-encoded WAV, and feature-decoded — the oracle
    // predicts the output geometry (including the floor-division frame
    // counts of the 24 kHz downsamples) with the same integer arithmetic
    "mm_audio_resample" -> ((s, dir) => {
      val media = graft.operators.Multimodal.oggMediaFromDocuments(s, dir)
      val resampled = graft.operators.Multimodal.resampleAudio(media, targetRate = 16000)
      graft.operators.Multimodal.decodeAudioFeatures(resampled,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"), col("n_frames"),
          (col("peak") > 0.0 && col("rms") > 0.0 && col("rms") <= col("peak") &&
            col("peak") <= lit(1.0)).as("pcm_ok"))
        .orderBy(col("media_id"))
    }),

    // media dedup end-to-end: grid PNGs whose REAL decoded ahash is
    // bit-controlled, every third document cloned at hamming distance 2 —
    // perceptual blocking (4x16-bit pigeonhole equi-join, never all-pairs)
    // + hamming verify + connected components must cluster each clone with
    // its original and nothing else; keep-min elects the original. The
    // oracle derives every (cluster, kept) from the doc_id rule.
    "mm_image_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.imageDedupCorpusFromDocuments(s, dir)
      val feats = graft.operators.Multimodal.decodeImages(media,
        () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
      graft.operators.Dedup.perceptualDedup(feats, "ahash", "media_id", maxHamming = 3)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    }),

    // the media CURATION PIPELINE end-to-end, composing the round's
    // stages the way a crawl job would: corrupt records (every 7th
    // original truncated) divert in the SAFE resize, survivors are
    // normalized to <=16px, near-duplicate clones (hamming-2 grid images,
    // every 3rd doc) collapse in perceptual dedup — and when a clone's
    // original was quarantined, the clone survives as the cluster's only
    // member. Every (status, resized_ok) derives from doc_id arithmetic.
    // The dedup runs ON the resized corpus: the grid construction survives
    // integer-NN downscale bit-exactly, which the oracle relies on.
    "mm_media_pipeline" -> ((s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      val corpus = mm.imageDedupCorpusFromDocuments(s, dir).map(r =>
        if (r.media_id < 1000000000L && r.media_id % 7 == 0)
          r.copy(content = java.util.Arrays.copyOf(r.content, 8))
        else r)
      // both checkpointed (r14): `safe` feeds the decode AND the
      // error-status projection, `feats` feeds the dedup AND the resize
      // audit — without them the fabricate+resize and the decode each ran
      // twice (the r14 profile measured 38 s of task CPU here)
      val safe = mm.resizeImagesSafe(corpus, maxDim = 16).localCheckpoint()
      val feats = mm.decodeImages(mm.keptRecords(safe),
        () => new mm.ImageIoDecoder).toDF().localCheckpoint()
      val deduped = graft.operators.Dedup.perceptualDedup(
        feats, "ahash", "media_id", maxHamming = 3)
      safe.toDF().select(col("media_id"), col("error"))
        .join(deduped.select(col("id").as("media_id"), col("kept")), Seq("media_id"), "left")
        .join(feats.select(col("media_id"),
          (greatest(col("width"), col("height")) <= 16).as("rok")), Seq("media_id"), "left")
        .select(col("media_id"),
          when(col("error").isNotNull, lit("quarantined"))
            .when(col("kept"), lit("kept")).otherwise(lit("deduped")).as("status"),
          coalesce(col("rok"), lit(true)).as("resized_ok"))
        .orderBy(col("media_id"))
    }),

    // WARC ingest — the FIRST step of a crawl pipeline: documents packed
    // 16-to-an-archive (warcinfo + request/response pairs; odd archives
    // per-record-GZIPPED, exercising the multi-member gunzip), exploded
    // back to per-capture rows. The oracle rebuilds every output column
    // from the documents table: url string, 404-every-17th status, UTF-8
    // body length. Archive bytes never cross a shuffle — only the
    // exploded fixed-shape captures do.
    "tx_warc_ingest" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("archive_id"), col("url"), col("http_status"), col("content_length"))
        .orderBy(col("url"))
    }),

    // the Common-Crawl-shaped capstone: WARC archives -> explode ->
    // HTTP-200 responses only -> UTF-8 text -> per-doc curation metrics,
    // i.e. the classic crawl-to-training-text front half composed from
    // this round's ingest seam and the existing text analysis. The 404
    // captures (every 17th doc) drop out at the status filter, which the
    // oracle mirrors with WHERE doc_id % 17 <> 0.
    "tx_warc_curation" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("archive_id"), col("url"),
          decode(col("body"), "UTF-8").as("text"))
        .select(col("archive_id"), col("url"),
          length(col("text")).as("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens_ws"))
        .orderBy(col("url"))
    }),

    // tar ingest, the archive sibling: one member per document, listing
    // (name, size) oracle-predicted from the doc columns. Checksums
    // verified per 512-byte ustar header on the way in.
    "tx_tar_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestTar(ing.tarArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("name"), col("size"))
        .orderBy(col("name"))
    }),

    // .tar.xz source archives — the kernel/source-tarball shape: the
    // xz decode (LZMA2 chunks, every container CRC verified, block
    // check over the UNCOMPRESSED bytes) feeding the tar member
    // walk. Check types rotate by archive id (none/crc32/crc64/sha256)
    // and the query REPORTS the check it read off the stream header, so
    // the oracle pins both the listing and the container metadata.
    // Map-only per-record decode, the archive-family shape.
    "tx_tarxz_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarXzArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val check = graft.operators.Xz.checkName(r.content)
          graft.operators.Tar.readEntries(graft.operators.Xz.decompress(r.content))
            .map(e => (r.media_id, check, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "check_type", "name", "size", "payload")
        .select(col("archive_id"), col("check_type"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // .tar.lz4 archives — the Hadoop-ecosystem archive flavor, with a
    // CANONICAL second implementation in the sandbox (the lz4 CLI, which
    // Lz4Spec interops against both directions). Containers rotate by
    // archive id between the modern frame (header/content checksums
    // verified) and the kernel legacy frame; the query REPORTS the
    // container it read off the magic so the oracle pins both the
    // listing and the framing. Map-only per-record decode.
    "tx_tarlz4_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarLz4ArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val container = graft.operators.Lz4.containerName(r.content)
          graft.operators.Tar.readEntries(graft.operators.Lz4.decompress(r.content))
            .map(e => (r.media_id, container, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "container", "name", "size", "payload")
        .select(col("archive_id"), col("container"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // 7z archives — the LZMA-family container, canonical interop both
    // directions via libarchive (bsdtar-built goldens decode exactly;
    // bsdtar lists/extracts our archives live in SevenzSpec; a
    // spec-literal hand-built fixture pins the framing besides).
    // Coders rotate by aid%3 (copy/lzma/lzma2), layout
    // by aid%2 (solid/one-folder-per-member), every 5th archive carries
    // the ENCODED header real 7z writes; the query REPORTS the coder it
    // read off the header so the oracle pins listing AND framing.
    // Map-only per-record decode, the archive-family shape.
    "tx_7z_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.sevenzArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val coder = graft.operators.Sevenz.coderNames(r.content)
          graft.operators.Sevenz.readEntries(r.content)
            .map(e => (r.media_id, coder, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "coder", "name", "size", "payload")
        .select(col("archive_id"), col("coder"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // .deb packages — the distro-archive corpus shape: ar container
    // (interop-pinned byte-identical to GNU ar), debian-binary gate,
    // control.tar parsed into RFC822 fields, data.tar exploded into
    // members; data compression rotates by package id over the full
    // deb(5) matrix (xz/gzip/zstd/none) and the query REPORTS the
    // codec + control fields it read so the oracle pins framing,
    // metadata AND payloads. dpkg-deb reads our writer's packages live
    // in DebSpec. Map-only per-record decode.
    "tx_deb_packages" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.debPackagesFromDocuments(s, dir)
        .flatMap { r =>
          val p = graft.operators.Deb.readPackage(r.content)
          p.dataMembers.filter(_.typeflag == '0').map(e =>
            (p.control("Package"), p.control("Version"), p.compression,
              e.name.stripPrefix("./"), e.size, e.payload))
        }
        .toDF("package", "version", "compression", "name", "size", "payload")
        .select(col("package"), col("version"), col("compression"),
          col("name"), col("size"), md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // cpio archives — the initramfs / RPM-payload container: formats
    // rotate by aid%3 (newc / crc-with-verified-sums / odc) and the
    // query REPORTS the format read off the magic, so the oracle pins
    // listing AND framing. bsdcpio interop both directions in CpioSpec.
    // Map-only per-record decode, the archive-family shape.
    "tx_cpio_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.cpioArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val fmt = new String(r.content, 0, 6,
            java.nio.charset.StandardCharsets.US_ASCII) match {
            case "070701" => "newc"
            case "070702" => "crc"
            case "070707" => "odc"
            case other => other
          }
          graft.operators.Cpio.readEntries(r.content)
            .map(e => (r.media_id, fmt, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "format", "name", "size", "payload")
        .select(col("archive_id"), col("format"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // ISO 9660 disc images — the optical-media preservation shape:
    // volume-descriptor walk, recursive directory records with both-
    // endian fields cross-checked, Rock Ridge names. bsdtar interop
    // both directions in Iso9660Spec (goldens across RR/plain/Joliet).
    // Map-only per-record decode, the archive-family shape.
    "tx_iso_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.isoImagesFromDocuments(s, dir)
        .flatMap { r =>
          graft.operators.Iso9660.readEntries(r.content)
            .map(e => (r.media_id, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "name", "size", "payload")
        .select(col("archive_id"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // xar packages — the macOS installer shape: zlib TOC walked with
    // the hardened XML parser, TOC checksum + both per-member checksums
    // verified on every record. bsdtar interop both directions in
    // XarSpec. Map-only per-record decode, the archive-family shape.
    "tx_xar_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.xarArchivesFromDocuments(s, dir)
        .flatMap { r =>
          graft.operators.Xar.readEntries(r.content)
            .map(e => (r.media_id, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "name", "size", "payload")
        .select(col("archive_id"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // .tar.Z archives — the FTP/Usenet-era LZW flavor, canonical
    // interop both directions (bsdtar-written golden vs gzip -dc;
    // gzip/bsdcat decode our streams — LzwSpec). The query REPORTS the
    // max code width read off the flags byte so the oracle pins the
    // framing. Map-only per-record decode, the archive-family shape.
    "tx_tarz_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarZArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val maxBits = (r.content(2) & 0x1F).toLong
          graft.operators.Tar.readEntries(graft.operators.Lzw.decompressZ(r.content))
            .map(e => (r.media_id, maxBits, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "max_bits", "name", "size", "payload")
        .select(col("archive_id"), col("max_bits"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // zip ingest, completing the archive triple: central-directory walk,
    // store + deflate members (odd archives deflated), CRC-32 verified
    // per member on the way out. Method and uncompressed size are
    // oracle-predicted from the doc columns; md5(payload) rides along so
    // the oracle pins the INFLATED bytes against the source text, not
    // just the listing.
    "tx_zip_members" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestZip(ing.zipArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("name"), col("method"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    }),

    // canonical-URL curation: six deterministic messy-URL shapes (case
    // games, default ports, fragments, tracking params, unsorted queries,
    // lowercase percent-escapes, userinfo) built from the doc columns and
    // pushed through url_normalize — each rule's output is
    // oracle-predicted by construction. The canonical URL is the dedup
    // key of every crawl pipeline; this pins its semantics end-to-end.
    "tx_url_canonical" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      val raw = when(col("doc_id") % 6 === 0,
          concat(lit("HTTP://Corpus.INVALID:80/"), col("source"), lit("/"),
            col("doc_id"), lit("?b=2&a=1#frag")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("https://CORPUS.invalid:443/"), col("source"), lit("/"), col("doc_id")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("http://corpus.invalid/"), col("source"), lit("/"),
            col("doc_id"), lit("?utm_source=feed&utm_medium=rss")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("http://corpus.invalid:8080/"), col("source"), lit("/"),
            col("doc_id"), lit("%2fx")))
        .when(col("doc_id") % 6 === 4, lit("http://corpus.invalid#top"))
        .otherwise(
          concat(lit("http://User:Pw@Corpus.Invalid/"), col("doc_id"),
            lit("?fbclid=abc&z=9&a&a=0#x")))
      docs.select(col("doc_id"), raw.as("url_raw"),
          graft.operators.TextAnalysis.urlNormalize(raw).as("url_canonical"))
        .orderBy(col("doc_id"))
    }),

    // the CDX seam: build the record-level (offset, length) index for
    // the WARC corpus (compressed space on the odd, per-member-gzipped
    // archives), then AUDIT it — every span re-parsed as a standalone
    // buffer (what a ranged GET returns) must yield one record with the
    // indexed digest. Per-archive record counts are oracle-predicted
    // from the doc grouping (1 warcinfo + request/response per doc);
    // slices_ok = TRUE pins the round-trip.
    "tx_warc_cdx" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.verifyCdxSlices(ing.warcArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("n_records"), col("n_responses"),
          col("slices_ok"))
        .orderBy(col("archive_id"))
    }),

    // the robots.txt fetch gate (RFC 9309): host-grain robots bodies —
    // a TINY dim table — broadcast-joined onto the URL stream, then the
    // codegen'd robots_allowed scalar per row. The corpus exercises every
    // precedence rule: exact-agent group beats *, longest match wins,
    // Allow wins ties, * wildcards and $ anchors, and the fallback-to-*
    // hosts prove group selection (their graftbot answers differ from
    // their otherbot-only rules). Every verdict is doc_id arithmetic, so
    // DuckDB predicts the whole gate by CASE.
    "tx_robots_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val path = when(col("doc_id") % 5 === 0, concat(lit("/public/"), col("doc_id")))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/"), col("doc_id")))
        .when(col("doc_id") % 5 === 2, concat(lit("/private/open/"), col("doc_id")))
        .when(col("doc_id") % 5 === 3, concat(lit("/files/"), col("doc_id"), lit(".tmp")))
        .otherwise(concat(lit("/files/"), col("doc_id"), lit(".txt")))
      // even-numbered hosts publish a graftbot group (plus a deny-all *
      // group that must NOT apply to graftbot); odd hosts publish no
      // graftbot group, so graftbot falls back to their * group
      val robotsEven = "# corpus robots\nUser-agent: graftbot\nDisallow: /private/\n" +
        "Allow: /private/open/\nDisallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /files/\nAllow: /files/*.txt$\n"
      val robots = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("robots_txt",
          when(substring(col("source"), 4, 8).cast("int") % 2 === 0,
            lit(robotsEven)).otherwise(lit(robotsOdd)))
      d.join(broadcast(robots), Seq("source"))
        .select(col("doc_id"), col("source"), path.as("path"),
          graft.operators.TextAnalysis.robotsAllowed(
            col("robots_txt"), lit("graftbot"), path).as("allowed"))
        .orderBy(col("doc_id"))
    }),

    // the crawl FRONTIER shard: canonicalize messy capture URLs
    // (url_normalize rides the scan as a projection), derive the host
    // with the built-in parse_url, then rendezvous-shard HOSTS to
    // fetchers — politeness requires all of a host's URLs on one
    // fetcher, and HRW means adding a fetcher moves only ~1/n of hosts.
    // md5 HRW, so DuckDB replays the exact assignment; per-shard URL
    // counts, host counts, and min host all hash-compare.
    "tx_frontier_shard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val raw = concat(lit("HTTP://"), upper(col("source")), lit(".INVALID:80/"),
        col("doc_id"), lit("?utm_source=feed&b=2&a=1#frag"))
      val canon = graft.operators.TextAnalysis.urlNormalize(raw)
      // reduce to HOST grain first: the per-host URL tally partial-aggs
      // map-side, and the nShards md5 rounds of HRW run once per HOST,
      // not once per URL — the per-URL form would hash the 100 TB stream
      // 4x for an assignment that is a host property. No countDistinct
      // at the fetcher grain either, so no Expand anywhere.
      d.select(col("doc_id"), canon.as("url"))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("host")).agg(count(lit(1)).as("n_urls"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .groupBy(col("fetcher"))
        .agg(sum(col("n_urls")).as("n_urls"),
          count(lit(1)).as("n_hosts"),
          min(col("host")).as("host_min"))
        .orderBy(col("fetcher"))
    }),

    // the FETCH SCHEDULER — what the frontier actually emits: per host,
    // URLs ordered stalest-first (the sitemap lastmod signal), spaced by
    // the host's declared Crawl-Delay (graftbot group on even hosts,
    // * fallback on odd — resolved through Robots.crawlDelay on the
    // 20-row dim, a typed map), the whole host assigned to a fetcher by
    // md5 HRW. One window per host for the position, one broadcast
    // join, HRW at host grain; every column exact arithmetic (the
    // delays are 2.0 / 0.5, binary-exact multipliers).
    "tx_fetch_schedule" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val robotsEven = "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /private/\n\n" +
        "User-agent: *\nCrawl-delay: 10\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nCrawl-delay: 30\n\n" +
        "User-agent: *\nCrawl-delay: 0.5\n"
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(1.0))
        }.toDF("host", "delay_s")
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"),
          ((col("doc_id") % 28) + 1).as("lastmod_day"))
      val w = Window.partitionBy(col("host"))
        .orderBy(col("lastmod_day"), col("doc_id"))
      urls.join(broadcast(robots), Seq("host"))
        .withColumn("position", row_number().over(w))
        .select(col("doc_id"), col("host"), col("fetcher"), col("position"),
          ((col("position") - 1) * col("delay_s")).as("offset_s"))
        .orderBy(col("doc_id"))
    }),

    // the frontier-seeding half of the robots surface: sitemap XML —
    // one urlset per host (odd hosts gzip-compressed, the common
    // .xml.gz form) plus one sitemapindex pointing at all of them, every
    // <loc> canonicalized through url_normalize on the way out. The
    // parser is the XXE-hardened DOM walk (DOCTYPE rejected outright —
    // sitemaps are attacker-controlled bytes). kind/loc/lastmod all
    // arithmetic-predicted.
    "tx_sitemap_frontier" -> ((s, dir) => {
      import s.implicits._
      val maps = docIds(s, dir)
        .groupByKey(_ % 20)
        .mapGroups { (k, it) =>
          val entries = it.toSeq.sorted.map { d =>
            (s"HTTP://Src$k.INVALID:80/page/$d?utm_source=map",
              Some(f"2026-01-${(d % 28) + 1}%02d"))
          }
          graft.operators.Multimodal.MediaRecord(k, s"fake://sitemap/$k.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1), Map.empty)
        }
      val index = s.createDataset(Seq(
        graft.operators.Multimodal.MediaRecord(100L, "fake://sitemap/index.xml",
          "application/xml",
          graft.operators.Sitemaps.write(
            (0L until 20L).map(k => (s"http://src$k.invalid/sitemap.xml.gz",
              None: Option[String])),
            index = true), Map.empty)))
      maps.union(index)
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .map(e => (e.kind, e.loc, e.lastmod)))
        .toDF("kind", "loc", "lastmod")
        .select(col("kind"),
          graft.operators.TextAnalysis.urlNormalize(col("loc")).as("loc_canonical"),
          col("lastmod"))
        .orderBy(col("loc_canonical"))
    }),

    // THE REFINE CAPSTONE — the full Common-Crawl front half in one
    // oracled query, composing five round-8 operators over a corpus
    // that is deliberately messy on every axis: WARC explode (half the
    // archives gzipped) -> charset decode from the HTTP Content-Type
    // (five byte shapes incl. invalid utf-8) -> url_normalize (case
    // games, default ports, tracking params, fragments) -> host-grain
    // robots gate (every RFC 9309 precedence rule) -> per-doc verdict
    // row. Every column — canonical URL, charset, clean flag, robots
    // verdict, decoded-text md5 — is DuckDB-predicted arithmetic.
    "tx_warc_refine" -> ((s, dir) => {
      import s.implicits._
      val caps = graft.operators.Ingest.ingestWarc(
        graft.operators.Ingest.refineArchivesFromDocuments(s, dir))
      val decoded = caps
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("url"), col("http_content_type"), col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, ct, body) =>
          val d = graft.operators.Charsets.decode(body, ct)
          (url, d.charset, d.clean, d.text)
        }
        .toDF("url", "charset", "clean", "text")
      val canon = decoded
        .withColumn("url_canonical",
          graft.operators.TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", parse_url(col("url_canonical"), lit("HOST")))
        .withColumn("path", parse_url(col("url_canonical"), lit("PATH")))
      val robotsEven = "# corpus robots\nUser-agent: graftbot\nDisallow: /private/\n" +
        "Allow: /private/open/\nDisallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /files/\nAllow: /files/*.txt$\n"
      // the robots dim is its OWN host-grain table (a real pipeline gets
      // it from the robots fetcher) — one pruned scan + tiny distinct,
      // NOT a re-run of the decode pipeline just to list hosts
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
      canon.join(broadcast(robots), Seq("host"))
        .select(
          regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
          col("url_canonical"), col("charset"), col("clean"),
          graft.operators.TextAnalysis.robotsAllowed(
            col("robots_txt"), lit("graftbot"), col("path")).as("allowed"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // image metadata WITHOUT pixel decode: PNG chunk walk (IHDR fields +
    // tEXt provenance, every chunk CRC verified) and JPEG segment walk
    // (SOF dims + APP1 EXIF TIFF: orientation + description) — the
    // header-only metadata pass that decides resize transposition and
    // carries provenance before any megapixel is decoded. The corpus
    // splices real tEXt / EXIF into the deterministic images, so every
    // field is doc_id arithmetic.
    "mm_image_metadata" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("source")).as[(Long, String)]
        .map { case (id, source) =>
          val w = ((id % 16) + 1).toInt * 4
          val h = ((id % 12) + 1).toInt * 4
          // fully-qualified module calls: static MODULE$ access, nothing
          // captured into the task closure
          val bytes =
            if (id % 2 == 0)
              graft.operators.ImageMetadata.addPngText(
                graft.operators.Multimodal.deterministicPng(id, w, h),
                "source", s"$source/$id")
            else
              graft.operators.ImageMetadata.addJpegExif(
                graft.operators.Multimodal.deterministicMjpeg(id, w, h, 1),
                (1 + id % 8).toInt, s"doc $id")
          val m = graft.operators.ImageMetadata.parse(bytes)
          (id, m.format, m.width, m.height,
            m.bitDepth, m.orientation, m.texts.get("source"), m.description)
        }
        .toDF("media_id", "format", "width", "height",
          "bit_depth", "orientation", "text_source", "description")
        .orderBy(col("media_id"))
    }),

    // redirect-chain resolution: every 3xx capture resolved to the URL
    // its chain lands on — final / resolved (k hops) / dangling (chain
    // leaves the crawl) / loop (cycle or > maxHops), all four outcomes
    // first-class. The constructed graph has 2-hop chains, self-loops,
    // and out-of-crawl targets; boundary docs (targets past max doc_id)
    // become danglings, and the oracle predicts those too.
    "tx_redirect_resolve" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      def u(c: org.apache.spark.sql.Column) = concat(lit("http://c.invalid/"), c)
      val m6 = col("doc_id") % 6
      val pages = d.select(col("doc_id"), u(col("doc_id")).as("url"),
        m6.isin(0, 1, 2, 5).as("is_redirect"),
        when(m6 === 0, u(col("doc_id") + 1))
          .when(m6 === 1, u(col("doc_id") + 2))
          .when(m6 === 2, u(col("doc_id"))) // self-loop
          .when(m6 === 5, concat(lit("http://gone.invalid/"), col("doc_id")))
          .otherwise(lit(null)).as("location"))
      graft.operators.Redirects.resolve(pages, "url", "is_redirect", "location")
        .join(pages.select(col("doc_id"), col("url")), Seq("url"))
        .select(col("doc_id"), col("url"), col("status"),
          col("resolved_url"), col("hops"))
        .orderBy(col("doc_id"))
    }),

    // the charset seam between "HTTP gave us bytes" and every text
    // operator: BOMs (stripped, and they beat a lying declaration),
    // declared charsets through the JVM alias table, strict UTF-8
    // sniffing, and a TOTAL WHATWG windows-1252 fallback that can never
    // fail — undecodable rows come back clean=false instead of killing
    // tasks. Five byte-level constructions (utf-8 BOM, utf-16le BOM,
    // declared latin-1, bare utf-8, invalid utf-8), every decoded text
    // md5-pinned by the oracle.
    "tx_charset_decode" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
      d.map { case (id, text) =>
        val (body, ct) = (id % 5) match {
          case 0 => (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ text.getBytes("UTF-8"),
            "text/html")
          case 1 => (Array(0xff, 0xfe).map(_.toByte) ++ text.getBytes("UTF-16LE"),
            "text/html")
          case 2 => (text.getBytes("ISO-8859-1"), "text/html; charset=ISO-8859-1")
          case 3 => (text.getBytes("UTF-8"), "text/html")
          case _ => (text.getBytes("UTF-8") ++ Array(0x80, 0x81).map(_.toByte),
            "text/html") // invalid utf-8 tail -> windows-1252 fallback
        }
        val dec = graft.operators.Charsets.decode(body, ct)
        (id, dec.charset, dec.clean, dec.text)
      }.toDF("doc_id", "charset", "clean", "text")
        .select(col("doc_id"), col("charset"), col("clean"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // WET derivation (Common Crawl's text-extraction companion format):
    // WARC crawl archives -> one `conversion` record per HTTP response,
    // WARC-Refers-To linking back to the capture, non-response records
    // dropped — then the WET archives are RE-INGESTED and every
    // conversion's text md5-pinned against the source documents. Map-only
    // archive-in/archive-out on the same grain: WET layout mirrors WARC
    // layout, zero shuffles beyond the demo corpus construction.
    "tx_warc_wet" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.toWet(ing.warcArchivesFromDocuments(s, dir)))
        .select(col("archive_id"), col("url"), col("warc_type"),
          col("content_length").as("text_len"), md5(col("body")).as("text_md5"))
        .orderBy(col("url"))
    }),

    // WAT derivation — the third Common-Crawl companion (CDX index, WET
    // text, WAT metadata/OUTLINKS) and the crawl's frontier-GROWTH input:
    // HTML captures -> one metadata record per response whose JSON body
    // carries the page's <a href> targets, extracted by the single-pass
    // scanner, <base href>-rebased, RFC 3986-resolved, entity-decoded,
    // and url_normalize'd. The demo pages exercise every rule (relative /
    // absolute-path / cross-host / unquoted-attr / dot-segment links kept;
    // comment, fragment-only, mailto:, javascript:, and in-script links
    // dropped) — the oracle predicts every (doc, position, url) edge from
    // doc_id arithmetic. The WAT archives are RE-INGESTED through the
    // normal WARC path before exploding, so the round trip is pinned too.
    "tx_warc_wat" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      val wat = ing.ingestWarc(ing.toWat(ing.watArchivesFromDocuments(s, dir)))
      wat.toDF()
        .filter(col("warc_type") === "metadata")
        .select(col("url").as("src_url"),
          from_json(col("body").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "url string, outlinks array<string>")).as("j"))
        .select(col("src_url"), posexplode(col("j.outlinks")).as(Seq("pos", "dst_url")))
        .select(
          regexp_extract(col("src_url"), "/page/(\\d+)", 1).cast("long").as("doc_id"),
          (col("pos") + 1).cast("long").as("position"),
          col("dst_url"))
        .orderBy(col("doc_id"), col("position"))
    }),

    // cross-crawl dedup via WARC revisit records (ISO 28500 §6.7.2, the
    // Common-Crawl mechanism): epoch B's captures join the epoch-A digest
    // index on url — unchanged pages become body-less `revisit` verdicts
    // pointing at the prior record id, changed pages re-store, pages A
    // never crawled (the index filter drops doc_id%5==4) are `new`. Every
    // verdict, refers-to, and stored-byte count is doc_id arithmetic
    // (epoch B amends every 3rd body with ' v2' -> +3 bytes).
    "tx_warc_revisit" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      // a real pipeline reads the PREVIOUS crawl's committed index; the
      // demo filters epoch A's to simulate never-crawled urls
      val prevIdx = ing.revisitIndex(ing.warcArchivesFromDocuments(s, dir))
        .filter(regexp_extract(col("url"), "(\\d+)$", 1).cast("long") % 5 =!= 4)
      val cur = ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir, bodyV2Every = 3))
      ing.revisitVerdicts(cur, prevIdx)
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .select(col("doc_id"), col("url"), col("verdict"),
          col("refers_to"), col("stored_bytes"))
        .orderBy(col("doc_id"))
    }),

    // recrawl-rate estimation (Cho & Garcia-Molina): four consecutive
    // re-crawl epochs run through the REAL revisit machinery (epoch e's
    // captures vs epoch e-1's digest index), verdicts unioned, change
    // frequency + integer recrawl interval per url. The corpus rule —
    // a doc mutates at epoch e iff (doc_id + e) % 3 == 0 — makes every
    // count/permille/interval DuckDB arithmetic: docs with doc_id%3==2
    // change twice (e=1,4), the rest once.
    "tx_recrawl_rate" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      // epochs 1-3 are each consumed twice (current side of round e, prev
      // side of round e+1). r14 tried an eager localCheckpoint (fabricate
      // once, store the blobs) — measured SLOWER; r15 instead derives all
      // four rounds from ONE epoch-stamped digest pass + a lag window
      // (revisitVerdictsOverEpochs): 5 archive passes instead of 8, one
      // digest exchange instead of 4 index joins, nothing stored.
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      ing.changeRate(verdicts, epochs = 4)
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .select(col("doc_id"), col("changed_count"),
          col("change_permille"), col("interval_days"))
        .orderBy(col("doc_id"))
    }),

    // the two recrawl signals JOINED into one fetch priority — the pair
    // tx_recrawl_rate and tx_sitemap_frontier left unconnected: per-url
    // Cho/Garcia-Molina intervals from the 4-epoch revisit history meet
    // sitemap <lastmod> (REAL sitemap bytes, odd sites gzipped, parsed
    // back through the XXE-hardened walk), age = days since lastmod at
    // the day-28 epoch close, priority = age in permille of the change
    // interval, due = age >= interval, and a per-site stalest-first
    // window orders the fetch queue. All integer arithmetic; DuckDB
    // replays signal derivation, the join, and the window. Scale shape:
    // url-grain join (rates and sitemap entries share the url key), one
    // site-partitioned window — never a global sort.
    "tx_recrawl_priority" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      // single-pass multi-epoch verdicts — see tx_recrawl_rate (r15)
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      val rates = ing.changeRate(verdicts, epochs = 4)
      val maps = t(s, dir, "documents").select(col("source"), col("doc_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (src, it) =>
          val entries = it.map(_._2).toSeq.sorted.map { d =>
            (s"http://corpus.invalid/$src/$d",
              Some(f"2026-01-${(d % 28) + 1}%02d"): Option[String])
          }
          val k = src.stripPrefix("src").toLong
          graft.operators.Multimodal.MediaRecord(k, s"fake://sm/$src.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1),
            Map.empty)
        }
      val lastmod = maps
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .flatMap(e => e.lastmod.map(lm => (e.loc, lm))))
        .toDF("url", "lastmod")
        .select(col("url"),
          regexp_extract(col("lastmod"), "-(\\d+)$", 1).cast("long")
            .as("lastmod_day"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("priority_permille").desc, col("doc_id").asc)
      rates.join(lastmod, Seq("url"))
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .withColumn("source", regexp_extract(col("url"), "invalid/([^/]+)/", 1))
        .withColumn("age_days", lit(28L) - col("lastmod_day"))
        .withColumn("priority_permille", expr("age_days * 1000 div interval_days"))
        .withColumn("due", col("age_days") >= col("interval_days"))
        .withColumn("position", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("source"), col("lastmod_day"), col("age_days"),
          col("changed_count"), col("interval_days"), col("priority_permille"),
          col("due"), col("position"))
        .orderBy(col("doc_id"))
    }),

    // rank × recrawl FETCH-ORDER capstone — the seam tx_crawl_plan and
    // tx_recrawl_priority left open: the epoch plan selected by raw
    // staleness, ignoring what the revisit history KNOWS about how fast
    // each page changes. Here the selection key is the change-aware
    // priority (age × 1000 div interval), so under the same per-host
    // budget the planner prefers known-fast-changing pages: a 9-day-
    // interval page outranks a 14-day page of equal age. Change
    // intervals come from the REAL 4-epoch revisit machinery
    // (Cho/Garcia-Molina, as tx_recrawl_rate), lastmod ages from REAL
    // sitemap bytes (as tx_recrawl_priority), per-host budgets from the
    // rank apportionment (as tx_crawl_plan) — every value is DuckDB
    // arithmetic. Scale shape: url-grain joins on the shared doc key,
    // ONE host-partitioned window under a broadcast budget dim — never
    // a global frontier sort.
    "tx_fetch_order" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      // single-pass multi-epoch verdicts — see tx_recrawl_rate (r15)
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      val rates = ing.changeRate(verdicts, epochs = 4)
        .select(regexp_extract(col("url"), "(\\d+)$", 1).cast("long")
          .as("doc_id"), col("interval_days"))
      val maps = t(s, dir, "documents").select(col("source"), col("doc_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (src, it) =>
          val entries = it.map(_._2).toSeq.sorted.map { d =>
            (s"http://corpus.invalid/$src/$d",
              Some(f"2026-01-${(d % 28) + 1}%02d"): Option[String])
          }
          val k = src.stripPrefix("src").toLong
          graft.operators.Multimodal.MediaRecord(k, s"fake://sm/$src.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1),
            Map.empty)
        }
      val lastmod = maps
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .flatMap(e => e.lastmod.map(lm => (e.loc, lm))))
        .toDF("url", "lastmod")
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("lastmod"), "-(\\d+)$", 1).cast("long")
            .as("lastmod_day"))
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"))
        .join(rates, Seq("doc_id"))
        .join(lastmod, Seq("doc_id"))
        .withColumn("age_days", lit(28L) - col("lastmod_day"))
        .withColumn("priority_permille",
          expr("age_days * 1000 div interval_days"))
        .withColumn("due", col("age_days") >= col("interval_days"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(col("priority_permille").desc, col("doc_id").asc)
      urls
        .withColumn("rn", row_number().over(w))
        .join(broadcast(budgets.select(col("host"), col("rank"), col("alloc"))),
          Seq("host"))
        .filter(col("rn") <= col("alloc"))
        .groupBy(col("host"))
        .agg(max(col("rank")).as("rank"), max(col("alloc")).as("alloc"),
          count(lit(1)).as("n_selected"),
          sum(col("doc_id")).as("id_sum"),
          max(col("priority_permille")).as("top_priority"),
          sum(when(col("due"), 1L).otherwise(0L)).as("n_due"),
          sum(when(col("interval_days") === 9, 1L).otherwise(0L)).as("n_fast"))
        .withColumn("fetcher",
          graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("rank"), col("alloc"), col("n_selected"),
          col("id_sum"), col("top_priority"), col("n_due"), col("n_fast"),
          col("fetcher"))
        .orderBy(col("host"))
    }),

    // the FRONTIER-GROWTH capstone — the seam the r8 verdict said was
    // missing now closed end-to-end: outlinks DISCOVER urls (the real
    // extractor over the crawl pages), an anti-join against the crawl's
    // known canonical set keeps only genuinely NEW ones (frontier
    // growth, not reordering), the host-grain broadcast robots dim
    // gates them (numeric-suffix rules so DuckDB replays the verdict:
    // even hosts block /page/*0$, odd hosts block /page/*5$ for the
    // fallback group), and md5-HRW assigns each host to a fetcher. Per
    // host: new-URL count, robots-allowed count, fetcher — every value
    // arithmetic. Scale shape: map-only extract, 8-byte-ish URL rows
    // into one shuffle for the anti-join, host-grain dim broadcast,
    // host-grain aggregate.
    "tx_frontier_growth" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val discovered = pages
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("url"))
        .distinct()
      // the known set from its OWN pruned scan (the dim-table lesson)
      val known = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/page/"), col("doc_id")).as("url"))
      val fresh = discovered.join(known, Seq("url"), "left_anti")
      val robotsEven = "User-agent: graftbot\nDisallow: /page/*0$\n\n" +
        "User-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /page/*5$\n"
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
      fresh
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .withColumn("path", parse_url(col("url"), lit("PATH")))
        .join(broadcast(robots), Seq("host"))
        .withColumn("allowed", graft.operators.TextAnalysis.robotsAllowed(
          col("robots_txt"), lit("graftbot"), col("path")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("fetcher"), col("n_new"), col("n_allowed"))
        .orderBy(col("host"))
    }),

    // host-level link graph over the WAT outlinks — the standard
    // Common-Crawl-style seed ranker. Page-level edges come out of the
    // REAL extractor (map-only over the demo pages), reduce to HOST grain
    // first (the tx_frontier_shard argument: iterate on the ~10^8-row
    // host graph, not the 100 TB edge stream), then 3 rounds of integer
    // damped contribution passing (rank*17 div 20 div out_deg — exact
    // arithmetic, so DuckDB replays every iteration bit-for-bit, which
    // float PageRank cannot). Degrees + final rank per host.
    "tx_link_rank" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      graft.operators.LinkGraph.rankHosts(edges, "src_host", "dst_host", iters = 3)
        .orderBy(col("host"))
    }),

    // INCREMENTAL link-rank maintenance — the daily-crawl shape: the
    // stored host graph folds a sparse delta BOTH ways (hosts k%5==0 gain
    // an edge to k+13 — two genuinely new after dedup, the rest collide
    // with existing family edges; hosts k%4==0 LOSE their k+11 family
    // edge through mergeEdges' anti-join), and ranks warm-start from the
    // PREVIOUS epoch's converged vector, re-iterating only to the warm
    // horizon (6 rounds — the old vector sits near the new fixed point;
    // this is the operator's entire point vs a 20+-round cold rebuild).
    // The ORACLE REPLAYS THE EXACT WARM PATH: 8 cold iterations on the
    // old graph, the warm vector seeded from that terminal state, then 6
    // iterations on the merged graph — bit-equality holds by construction
    // at ANY horizon; the warm==cold fixed-point agreement proof lives in
    // LinkGraphSpec where it belongs. Scale shape: only the delta pays
    // page-grain extraction; prev ranks checkpoint once before
    // re-iterating.
    "tx_link_rank_delta" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val oldEdges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      // yesterday's epoch: ranks at the old graph's fixed point (it
      // converges at 6 — 8 is safely past)
      val prev = graft.operators.LinkGraph
        .rankHosts(oldEdges, "src_host", "dst_host", iters = 8)
        .select(col("host"), col("rank"))
      val ks = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
      val adds = ks.filter(col("k") % 5 === 0)
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("src_host"),
          concat(lit("src"), (col("k") + 13) % 20, lit(".invalid")).as("dst_host"))
      val removes = ks.filter(col("k") % 4 === 0)
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("src_host"),
          concat(lit("src"), (col("k") + 11) % 20, lit(".invalid")).as("dst_host"))
      val merged = graft.operators.LinkGraph.mergeEdges(
        oldEdges, adds, removes, "src_host", "dst_host")
      graft.operators.LinkGraph
        .rankDelta(prev, "host", "rank", merged, "src_host", "dst_host", iters = 6)
        .orderBy(col("host"))
    }),

    // anchor-text index over the WAT corpus: the REAL extractor pulls
    // (target, anchor text) pairs out of every page, targets normalize to
    // canonical URLs, and the host-grain aggregate is what other pages
    // CALL each host — the classic web-corpus relevance signal a plain
    // outlink edge list cannot provide. Every count and the sorted
    // distinct-label join are doc_id arithmetic (per-position labels are
    // constant). Scale shape: map-only extract, rows carry URLs + short
    // labels only (text capped at 256 cp), ONE host-grain aggregate.
    "tx_anchor_text" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      pages
        .select(explode(graft.operators.TextAnalysis.htmlAnchors(
          col("html"), col("url"))).as("a"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("a.url")).as("dst"),
          col("a.text").as("text"))
        .withColumn("host", parse_url(col("dst"), lit("HOST")))
        .groupBy(col("host"))
        // n_texts from the collected set, NOT countDistinct: one
        // aggregation pass / one exchange instead of the two-phase
        // distinct expansion
        .agg(count(lit(1)).as("n_links"),
          array_sort(collect_set(col("text"))).as("_texts"))
        .select(col("host"), col("n_links"),
          size(col("_texts")).cast("long").as("n_texts"),
          array_join(col("_texts"), "|").as("texts"))
        .orderBy(col("host"))
    }),

    // jusText-style boilerplate removal: html_blocks segments + measures,
    // the POLICY (link-density bad / length short / neighbor smoothing /
    // newline-joined main text) is declarative SQL in extractMainText —
    // so the DuckDB oracle replays classification AND the exact extracted
    // text. Pages: 6 blocks per doc — two all-link nav DIVs (bad), two
    // headings (short, promoted good by their good neighbor), two long
    // paragraphs of k = 20 + id%7 words (good; the first has one linked
    // word to exercise sub-threshold link density). Scale shape: map-only
    // segmentation, ONE hash exchange on doc_id shared by the smoothing
    // window and the reassembly aggregate.
    "tx_boilerplate" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => (id, graft.operators.Ingest.boilerplatePage(id)))
        .toDF("doc_id", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // FULL jusText: the stopword-density signal joins link density —
    // keyword-stuffed long paragraphs (0 permille stopwords) reclassify
    // from good to bad, mid-density prose (200 permille) becomes
    // near_good and lives or dies by its neighbors, and a stopword-free
    // heading stub no longer rides the article beside it. Same single
    // doc_id exchange as tx_boilerplate; the stopword test is a
    // per-block scalar over the literal "en" profile.
    "tx_boilerplate_stop" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => (id, graft.operators.Ingest.stopwordPage(id)))
        .toDF("doc_id", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "doc_id",
        stopwords = graft.functions.TextStatsProfiles.stopwords("en"),
        stopLowPermille = 150, stopHighPermille = 400)
        .orderBy(col("doc_id"))
    }),

    // the frontier-growth anti-join at its 100 TB shape: the same
    // discovery stream as tx_frontier_growth, but the known-set check
    // routes through a Bloom prune — bloom-negative URLs (the bulk:
    // genuinely new) pass MAP-ONLY without shuffling, and only the
    // bloom-positive sliver pays the exact left_anti join. The result is
    // row-for-row the exact anti-join (the oracle proves it: same
    // arithmetic as tx_frontier_growth's n_new), the Bloom only routes.
    "tx_frontier_bloom" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val discovered = pages
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("url"))
        .distinct()
      val known = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/page/"), col("doc_id")).as("url"))
      graft.operators.BloomTools
        .prunedAntiJoin(discovered, "url", known, "url",
          expectedItems = 1 << 17, fpp = 0.01)
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_new"))
        .orderBy(col("host"))
    }),

    // cross-host MIRROR detection, the digest-equality dedup Common Crawl
    // runs across hosts: the revisit digest index (the REAL machinery
    // tx_warc_revisit uses across epochs) grouped by payload digest —
    // groups spanning >= 2 hosts are mirror clusters, singleton content
    // must NOT be flagged. Content repeats by doc_id % 97 residue across
    // the 20 hosts (gcd 1 spreads each group), so group membership,
    // copy/host counts, and id_sum all replay from arithmetic. Scale
    // shape: digests are 16-byte keys off a map-only archive scan; ONE
    // digest-grain exchange, no body ever shuffles.
    "tx_mirror_hosts" -> ((s, dir) => {
      val ing = graft.operators.Ingest
      ing.revisitIndex(ing.mirrorArchives(s, dir))
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("digest"))
        .agg(min(col("doc_id")).as("group_id"),
          count(lit(1)).as("n_copies"),
          size(collect_set(col("host"))).cast("long").as("n_hosts"),
          sum(col("doc_id")).as("id_sum"))
        .filter(col("n_hosts") >= 2)
        .select(col("group_id"), col("n_copies"), col("n_hosts"), col("id_sum"))
        .orderBy(col("group_id"))
    }),

    // NEAR-mirror detection — the mirrors exact digests CANNOT catch:
    // every host's raw bytes differ (host-named nav banner), but after
    // jusText boilerplate removal the main texts align: roles 0/1 of each
    // content group are identical (hamming 0), role 2 differs by ONE
    // planted word selected to land at hamming 1-3 (the
    // timestamp-in-content mirror; distances spec-pinned in DedupSpec),
    // role 3 is unique and must not flag. simhash + 4x16-bit pigeonhole
    // blocking — hamming <= 3 pairs are GUARANTEED found via an equi-join,
    // never an all-pairs scan. Scale shape: map-only extract+hash; only
    // 8-byte fingerprints shuffle, host-grain.
    "tx_mirror_near" -> ((s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct().as[Long]
        .map(k => (s"src$k.invalid", graft.operators.Ingest.mirrorPage(k)))
        .toDF("host", "html")
      val main = graft.operators.TextAnalysis.extractMainText(pages, "html", "host")
        .select(col("host"), col("main_text"))
      graft.operators.Dedup
        .simhashNearDupPairs(main, "main_text", "host", maxHamming = 3)
        .select(col("id1"), col("id2"), (col("hamming") === 0).as("exact"))
        .orderBy(col("id1"), col("id2"))
    }),

    // the ON-PAGE politeness + dedup signals robots.txt cannot carry:
    // html_meta pulls title (entity-decoded), meta-description,
    // rel=canonical (rel token list, rebased by the leading <base href>,
    // resolved like an outlink), and meta-robots noindex/nofollow
    // ("none" implies both, names case-insensitive); a commented-out
    // canonical and a script-embedded robots meta must be ignored.
    // dedup_url = coalesce(canonical, own url) — the key a curation
    // pipeline groups on BEFORE content hashing. Map-only scalar.
    "tx_meta_gate" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.metaPage(id))
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("m.title").as("title"),
          col("m.description").as("description"),
          col("m.canonical").as("canonical"),
          col("m.noindex").as("noindex"),
          col("m.nofollow").as("nofollow"),
          coalesce(col("m.canonical"), col("url")).as("dedup_url"))
        .orderBy(col("doc_id"))
    }),

    // canonical-declared dedup IN ACTION: pages group on
    // coalesce(rel-canonical, own url) BEFORE any content hashing — the
    // cheap first dedup pass every curation pipeline runs (the id%3==0
    // pages of each (id%10, id%50) class share a canonical target, i.e.
    // one cluster per id%150 residue; everything else is a singleton the
    // HAVING must drop). ONE key-grain exchange, map-only extraction.
    "tx_canonical_dedup" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.metaPage(id))
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          coalesce(col("m.canonical"), col("url")).as("dedup_url"))
        .groupBy(col("dedup_url"))
        .agg(count(lit(1)).as("n_pages"),
          min(col("doc_id")).as("id_min"),
          sum(col("doc_id")).as("id_sum"))
        .filter(col("n_pages") >= 2)
        .orderBy(col("dedup_url"))
    }),

    // the meta-robots gate wired into DISCOVERY: pages declaring
    // nofollow (id%4==1) or none (id%4==2, which implies nofollow) must
    // contribute ZERO outlinks to the frontier — the on-page politeness
    // rule the robots.txt gate cannot enforce. The html_meta filter runs
    // BEFORE extraction, so gated pages never even pay the outlink scan.
    // Per-host discovered counts replay from the watPage link arithmetic
    // restricted to follow-allowed docs.
    "tx_frontier_nofollow" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map { id =>
          val (url, html) = graft.operators.Ingest.watPage(id)
          val tag = (id % 4) match {
            case 1 => """<meta name="robots" content="nofollow">"""
            case 2 => """<meta name="ROBOTS" content="none">"""
            case _ => ""
          }
          (url, html.replace("</head>", tag + "</head>"))
        }
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .filter(!col("m.nofollow"))
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("dst"))
        .withColumn("host", parse_url(col("dst"), lit("HOST")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("host"))
    }),

    // the within-crawl dedup WRITE path (what Common Crawl ships): mirror
    // archives -> selfDedupVerdicts (one stored body per digest, the
    // string-least capture canonical) -> dedupWarcRewrite (dups become
    // body-less revisit records with WARC-Refers-To + the
    // identical-payload-digest profile) -> the REWRITTEN BYTES re-ingested
    // and every verdict/refers-to/stored flag pinned from them. The
    // oracle replays canonical election with ARG_MIN over the url
    // strings. Scale shape: digests shuffle once for the verdict window;
    // the rewrite joins verdict rows (never bodies) onto a second
    // map-only archive pass.
    "tx_warc_dedup" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val archives = ing.mirrorArchives(s, dir)
      val deduped = ing.dedupWarcRewrite(archives, ing.selfDedupVerdicts(archives))
      // stores_body = the HTTP PAYLOAD survived the rewrite. Revisit
      // records keep the original header block (their declared
      // Content-Type promises a parseable HTTP block) but drop the
      // payload, so the distinction is made by parsing, not by length.
      deduped.flatMap(r => graft.operators.Warc.readRecords(r.content).map { rec =>
          val payloadLen =
            if (rec.content.isEmpty) 0
            else graft.operators.Warc.parseHttpResponse(rec.content)._3.length
          (rec.targetUri, rec.warcType,
            rec.headers.getOrElse("warc-refers-to", null), payloadLen)
        })
        .toDF("url", "verdict", "refers_to", "plen")
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("verdict"),
          regexp_extract(col("refers_to"), "mir:(\\d+)", 1).cast("long")
            .as("refers_to_doc"),
          (col("plen") > 0).as("stores_body"))
        .orderBy(col("doc_id"))
    }),

    // plan an entire crawl EPOCH end-to-end: link-graph host ranks (3
    // integer iterations) → exact budget apportionment (300 pages across
    // hosts by rank — small enough that the cap BINDS at ~15/host vs 25
    // urls/host) → stalest-first per-host selection under the
    // variable cap (row_number per host against the broadcast budget
    // dim) → md5-HRW fetcher assignment. Every stage is the REAL
    // operator and every output value replays in DuckDB: the rank
    // iterations, both apportionment levels, the per-host selection
    // membership (id_sum pins it), and the HRW argmax. Scale shape: ONE
    // url-grain exchange (the per-host window); ranks/budgets are
    // host-grain rows on broadcast dims.
    "tx_crawl_plan" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"),
          (col("doc_id") % 5).as("staleness")) // epochs since last fetch
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(col("staleness").desc, col("doc_id").asc)
      urls
        .withColumn("rn", row_number().over(w))
        .join(broadcast(budgets.select(col("host"), col("rank"), col("alloc"))),
          Seq("host"))
        .filter(col("rn") <= col("alloc"))
        .groupBy(col("host"))
        .agg(max(col("rank")).as("rank"), max(col("alloc")).as("alloc"),
          count(lit(1)).as("n_selected"),
          sum(col("doc_id")).as("id_sum"),
          max(col("staleness")).as("stalest"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("rank"), col("alloc"), col("n_selected"),
          col("id_sum"), col("stalest"), col("fetcher"))
        .orderBy(col("host"))
    }),

    // the budget meets POLITENESS PHYSICS: a host's Crawl-Delay bounds
    // what an epoch can fetch regardless of what the rank-proportional
    // apportionment wants — capacity = epoch_seconds div delay (REAL
    // robots parsing, exact-agent group wins over the hostile * group's
    // 60 s), effective = least(alloc, capacity), and the reported spill
    // is what a planner re-allocates to uncapped hosts. Delay 1+k%5 over
    // a ~15-page/host budget makes the cap BIND exactly on the slow
    // hosts (capacity 12 < alloc at delay 5). Scale shape: host-grain
    // rows end to end; the robots dim broadcasts.
    "tx_budget_capacity" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      budgets.join(broadcast(robots), Seq("host"))
        .withColumn("capacity", expr("60 div delay_s"))
        .withColumn("effective", least(col("alloc"), col("capacity")))
        .select(col("host"), col("alloc"), col("delay_s"), col("capacity"),
          col("effective"), (col("alloc") - col("effective")).as("spill"))
        .orderBy(col("host"))
    }),

    // ...and the budget loop CLOSED: the pages the Crawl-Delay cap takes
    // from slow hosts (spill) are re-apportioned onto hosts with headroom
    // (capacity - effective), weighted BY that headroom so no host is
    // pushed past its own physics — one exact integer round, final by
    // construction (bonus <= headroom per host; sum(final_alloc) ==
    // min(total, sum(capacity)) to the page). Same host-grain shape as
    // tx_budget_capacity; the second apportionment adds one broadcast of
    // an nShards-row dim.
    "tx_budget_replan" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      val capped = budgets.join(broadcast(robots), Seq("host"))
        .withColumn("capacity", expr("60 div delay_s"))
      graft.operators.LinkGraph
        .reallocateSpill(capped, "host", "shard", "alloc", "capacity")
        .orderBy(col("host"))
    }),

    // the crawl→training-text capstone: WARC archives (bodies in three
    // wire encodings: BOM'd UTF-8 / declared ISO-8859-1 / bare UTF-8,
    // each carrying a non-ASCII 'café' the decoder must get right) →
    // charset decode → jusText boilerplate removal → whitespace token
    // count. Every stage's output is doc_id arithmetic: charset from
    // id%3, block verdicts and the reassembled main text from the
    // boilerplate rules, tokens = 2k+7. The decode verdict rides the
    // aggregation key (url|charset|clean), so the composition stays on
    // extractMainText's single doc-grain exchange — no metadata re-join.
    "tx_warc_maintext" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val pages = ing.ingestWarc(ing.boilerplateArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_type").as("ct"), col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, ct, body) =>
          val d = graft.operators.Charsets.decode(body, ct)
          (url + "|" + d.charset + "|" + d.clean, d.text)
        }.toDF("_key", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "_key")
        .select(
          regexp_extract(col("_key"), "/doc/(\\d+)\\|", 1).cast("long").as("doc_id"),
          regexp_extract(col("_key"), "\\|([^|]+)\\|", 1).as("charset"),
          (regexp_extract(col("_key"), "([^|]+)$", 1) === "true").as("clean"),
          col("n_blocks"), col("n_good_final"), col("main_chars"),
          graft.operators.TextAnalysis.tokenCount(col("main_text"))
            .cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // PDF mining — the web-corpus document class the engine previously
    // dropped: a spec-correct writer fabricates per-doc PDFs (1 + id%3
    // pages, even ids Flate-compressed, WinAnsi 'café' plus the 0x80-0x9F
    // typographic block (smart quotes, em dash) on every page, parens in
    // the text to exercise string escaping), the structural parser walks
    // xref -> page tree -> content streams -> BT/ET text operators, and
    // DuckDB predicts every page's exact text. Map-only per-record walk;
    // one task per partition of the documents scan.
    "tx_pdf_text" -> ((s, dir) => {
      import s.implicits._
      val docs = docIds(s, dir)
        .map { id =>
          val nPages = (1 + id % 3).toInt
          val pages = (0 until nPages).map(p =>
            s"Doc $id page $p ‘café’\ntokens ${id % 7} — (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.write(pages, compress = id % 2 == 0))
          (id, got.nPages.toLong, got.pages)
        }.toDF("doc_id", "n_pages", "pages")
      docs.select(col("doc_id"), col("n_pages"),
          posexplode(col("pages")).as(Seq("page_idx", "text")))
        .select(col("doc_id"), col("n_pages"),
          col("page_idx").cast("long").as("page_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("page_idx"))
    }),

    // the PDF-mining CAPSTONE: WARC archives (odd ones gzipped) carrying
    // application/pdf responses -> archive explode -> content-type route
    // -> structural text extract, with every fifth document encrypted in
    // flight so the divert seam fires MID-PIPELINE (status names the
    // reject; the archive scan never dies). Page counts and total chars
    // replay from the same doc_id arithmetic as tx_pdf_text. Scale
    // shape: two map-only walks (archive explode, PDF extract), zero
    // shuffles before the final per-doc projection.
    "tx_warc_pdf" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.pdfArchives(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_content_type") === "application/pdf")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          try {
            val t = graft.operators.PdfCodec.extractText(body)
            (id, "ok", t.nPages.toLong, t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // OFFICE documents — the second-biggest document class after PDF:
    // DOCX (OOXML zip, w:p/w:t/w:tab/w:br) and ODT (OpenDocument zip,
    // text:p) written and extracted through the hardened XML walk
    // (doctype = parse error, so XXE/entity bombs die loudly). Map-only
    // per-record work like the PDF trio.
    "tx_office_text" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val paras = (0 until (1 + id % 4).toInt).map(p =>
            s"Para $p doc $id\ttab ‘§${id % 7}’")
          val bytes =
            if (id % 2 == 0) graft.operators.OfficeCodec.writeDocx(paras)
            else graft.operators.OfficeCodec.writeOdt(paras)
          val got = graft.operators.OfficeCodec.extractText(bytes)
          (id, got.format, got.nParagraphs.toLong, got.text)
        }.toDF("doc_id", "format", "n_paragraphs", "text")
        .select(col("doc_id"), col("format"), col("n_paragraphs"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // the SPREADSHEET/SLIDES half of the office family: XLSX cell grids
    // (shared-string table exercised by repeated cells) and PPTX slide
    // paragraphs, same hardened XML walk, same map-only shape.
    "tx_sheet_text" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes =
            if (id % 2 == 0) graft.operators.OfficeCodec.writeXlsx(Seq(Seq(
              Seq("metric", "value"),
              Seq(s"rows doc $id", s"${id % 97}"),
              Seq("metric", s"${id % 7}"))))
            else graft.operators.OfficeCodec.writePptx(Seq(
              Seq(s"Slide doc $id", s"point ${id % 5}\nmore ‘§’"),
              Seq(s"Closing ${id % 3}")))
          val got = graft.operators.OfficeCodec.extractText(bytes)
          (id, got.format, got.nParagraphs.toLong, got.text)
        }.toDF("doc_id", "format", "n_units", "text")
        .select(col("doc_id"), col("format"), col("n_units"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // the BOOK/LEGACY-DOC half of the document family: EPUB (OCF zip ->
    // OPF spine -> XHTML block text) and RTF (structural control-word
    // walk: \par/\line/\tab, \'xx cp1252, \uN unicode, destinations
    // skipped), both deterministic writers so the oracle replays exact
    // text. Map-only per-record work.
    "tx_book_text" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          if (id % 2 == 0) {
            val chapters = (0 until (1 + id % 3).toInt).map(c => Seq(
              s"Chapter $c of doc $id", s"Body $c — ‘§${id % 7}’"))
            val got = graft.operators.OfficeCodec.extractText(
              graft.operators.OfficeCodec.writeEpub(chapters))
            (id, got.format, got.nParagraphs.toLong, got.text)
          } else {
            val paras = (0 until (1 + id % 4).toInt).map(p =>
              s"RTF para $p doc $id — café ${id % 9}")
            val text = graft.operators.Rtf.extractText(
              graft.operators.Rtf.write(paras))
            (id, "rtf", paras.length.toLong, text)
          }
        }.toDF("doc_id", "format", "n_units", "text")
        .select(col("doc_id"), col("format"), col("n_units"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // TRIAGE over the document family: probeBytes routes every container
    // this engine extracts (docx/odt/xlsx/pptx/epub/rtf/mbox) plus the
    // OLE/CFB reject lane — zip routing is HEADER-ONLY (central-directory
    // names, zero decompression), the property that makes classifying a
    // 100 TB archive store cost directory reads.
    "tx_doc_probe" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val oc = graft.operators.OfficeCodec
          val bytes = (id % 10) match {
            case 0 => oc.writeDocx(Seq(s"doc $id"))
            case 1 => oc.writeOdt(Seq(s"doc $id"))
            case 2 => oc.writeXlsx(Seq(Seq(Seq(s"doc $id"))))
            case 3 => oc.writePptx(Seq(Seq(s"doc $id")))
            case 4 => oc.writeEpub(Seq(Seq(s"doc $id")))
            case 5 => graft.operators.Rtf.write(Seq(s"doc $id"))
            case 6 => graft.operators.Mail.writeMbox(Seq(
              s"Subject: d$id\n\nbody".getBytes(
                java.nio.charset.StandardCharsets.ISO_8859_1)))
            case 7 => graft.operators.MsDoc.write(Seq(s"doc $id"))
            case 8 => graft.operators.MsXls.write(Seq(
              "S0" -> Seq(Seq[Any](s"doc $id"))))
            case _ => graft.operators.MsPpt.write(Seq(Seq(s"doc $id")))
          }
          val p = graft.operators.Multimodal.probeBytes(id, bytes)
          (id, p.container, p.decodable)
        }.toDF("doc_id", "container", "decodable")
        .orderBy(col("doc_id"))
    }),

    // the DOCUMENT-MINING capstone: one WARC stream carrying every
    // container this engine extracts, under octet-stream Content-Types
    // (servers lie) — magic-byte triage routes each record to its
    // extractor (pdf / the four office dialects / epub / rtf), the OLE
    // lane diverts namedly, and the unified output is (container,
    // status, extracted chars). Two map-only walks, zero shuffles before
    // the per-doc projection — the whole point of the document family:
    // a 100 TB crawl mines EVERY document class in one pass.
    "tx_doc_mine" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.docArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          graft.operators.Ingest.docMineRecord(url, body) }
        .toDF("doc_id", "container", "status", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // MAILING-LIST mining: mbox mailboxes (RFC 4155 + mboxrd quoting)
    // split into messages, each through the MIME walk — 7bit / quoted-
    // printable / base64 / multipart-alternative bodies by id%4, RFC 2047
    // encoded-word subjects on id%3==0 — with the first text/plain leaf
    // extracted exactly. Map-only mailbox explode, bodies never shuffle.
    "tx_mail_mbox" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.mboxArchives(s, dir)
        .flatMap(r => graft.operators.Mail.splitMbox(r.content)
          .map(graft.operators.Mail.parseMessage))
        .map { m =>
          val id = m.messageId.stripPrefix("<graft:").takeWhile(_ != '@').toLong
          (id, m.subject, m.contentType, m.textFound, m.nParts.toLong, m.text)
        }
        .toDF("doc_id", "subject", "content_type", "text_found", "n_parts", "text")
        .select(col("doc_id"), col("subject"), col("content_type"),
          col("text_found"), col("n_parts"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // WIKI-DUMP mining — the classic public-corpus source in its real
    // shipping shape: bzip2 export-XML shards (the Bzip2 decode, both
    // CRCs verified) → hardened XML parse → per-page
    // wikitext cleanup (templates dropped, links unwrapped, refs and
    // comments removed, heading bars stripped). The shard's <siteinfo>
    // namespace map resolves each page's ns id to its NAME (key 0 is
    // the unnamed article space), like the real dumps. One shard is one
    // record; pages never cross an exchange before the projection.
    "tx_wiki_dump" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.wikiArchives(s, dir)
        .flatMap { r =>
          val (namespaces, pages) =
            graft.operators.MediaWiki.parseDumpWithSiteinfo(
              graft.operators.Bzip2.decompress(r.content))
          pages.map { p =>
            val text = graft.operators.MediaWiki.cleanWikitext(p.wikitext)
            (p.pageId, p.title, p.ns,
              namespaces.getOrElse(p.ns, s"ns${p.ns}"), p.username, text,
              text.length.toLong)
          }
        }
        .toDF("doc_id", "title", "ns", "ns_name", "username", "text", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // WIKI MULTISTREAM INDEX — the dumps' `multistream-index.txt.bz2`
    // twin (offset:pageId:title per line) enables RANGED reads: fetch
    // one bz2 stream's byte range and decode only that page batch,
    // never the rest of the dump — the CDX analog for wiki dumps. The
    // query audits the whole byte space: every index entry is replayed
    // through a genuine ranged read (Bzip2.decompressOne at the index
    // offset), the page must surface in THAT batch with the indexed
    // title, and the batch structure (stream rank, batch size) is
    // arithmetic the oracle predicts. Map-only per shard, like the dump
    // lane.
    "tx_wiki_index" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.wikiIndexedArchives(s, dir)
        .flatMap { r =>
          val mw = graft.operators.MediaWiki
          val idxText = new String(graft.operators.Bzip2.decompress(
            java.util.Base64.getDecoder.decode(r.meta("index_bz2_b64"))),
            java.nio.charset.StandardCharsets.UTF_8)
          val entries = mw.parseIndexText(idxText)
          val offsets = entries.map(_.offset).distinct.sorted
          val rankOf = offsets.zipWithIndex.toMap
          val batches = offsets.map(o => o -> mw.pagesAt(r.content, o)).toMap
          entries.map { e =>
            val batch = batches(e.offset)
            val page = batch.find(_.pageId == e.pageId)
            val ok = page.exists(_.title == e.title)
            val text = page.map(p => mw.cleanWikitext(p.wikitext)).getOrElse("")
            (e.pageId, r.media_id, rankOf(e.offset).toLong,
              batch.size.toLong, e.title, text.length.toLong, ok)
          }
        }
        .toDF("doc_id", "archive_id", "stream_rank", "batch_size",
          "title", "n_chars", "ranged_ok")
        .orderBy(col("doc_id"))
    }),

    // WIKI REDIRECT resolution — the real dumps ship redirect pages
    // (`<redirect title=.../>`); canonicalizing links needs their
    // chains FOLLOWED to terminal articles, exactly the HTTP-redirect
    // problem the crawl seam already solves. The dump explode feeds the
    // shared Redirects.resolve (one materialized title map, per-hop
    // shrinkage, early exit): 1-hop and genuine 2-hop chains resolve,
    // targets absent from the corpus surface as 'dangling' — never a
    // silent self-resolution. doc_id rides back via a title-keyed join
    // (both sides page-grain, co-keyed).
    "tx_wiki_redirects" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val pages = ing.wikiRedirectArchives(s, dir)
        .flatMap { r =>
          graft.operators.MediaWiki.parseDump(
            graft.operators.Bzip2.decompress(r.content))
            .map(p => (p.pageId, p.title, p.redirect.isDefined,
              p.redirect.getOrElse("")))
        }
        .toDF("doc_id", "title", "is_redirect", "target")
        // checkpointed (r14): consumed by the resolver AND the join back —
        // the bzip2 compress+decompress fabrication otherwise runs twice
        .localCheckpoint()
      val resolved = graft.operators.Redirects.resolve(
        pages, "title", "is_redirect", "target")
      pages.select(col("doc_id"), col("title"))
        .join(resolved, col("title") === col("url"))
        .select(col("doc_id"), col("title"), col("status"),
          col("resolved_url").as("resolved_title"), col("hops"))
        .orderBy(col("doc_id"))
    }),

    // MAIL-ATTACHMENT mining — the cross-family capstone list archives
    // demand: mailbox explode → MIME walk → NON-text leaves decoded
    // (base64, filename from Content-Disposition) → magic-routed
    // document extraction (pdf/docx/rtf/xls by id%4, one shared
    // template). Documents riding mail never cross an exchange either:
    // the whole lane is one map-side flatMap.
    "tx_mail_attachments" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.attachmentArchives(s, dir)
        .flatMap { r =>
          graft.operators.Mail.splitMbox(r.content).flatMap { m =>
            val parsed = graft.operators.Mail.parseMessage(m)
            val id = parsed.messageId.stripPrefix("<graft:")
              .takeWhile(_ != '@').toLong
            graft.operators.Mail.attachments(m).map { a =>
              val probe = graft.operators.Multimodal.probeBytes(id, a.bytes)
              val text = probe.container match {
                case "pdf" => graft.operators.PdfCodec.extractText(a.bytes)
                  .pages.mkString("\n")
                case "rtf" => graft.operators.Rtf.extractText(a.bytes)
                case _ => graft.operators.OfficeCodec.extractText(a.bytes).text
              }
              (id, a.filename, probe.container, parsed.text,
                text.length.toLong)
            }
          }
        }
        .toDF("doc_id", "filename", "container", "cover", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // FEED-DRIVEN discovery: RSS/Atom feeds (the channel that announces
    // new urls before sitemaps or the link graph see them) parsed through
    // the hardened XML walk, entries anti-joined against the known
    // frontier — new urls surface per host with their announcement day.
    // Feeds are host-grain KB dims; the 100 TB side is the FRONTIER, so
    // the plan must never shuffle or broadcast it: the frontier is probed
    // ONCE through a left-semi BroadcastHashJoin with the entries urls as
    // the build side (an outer join preserving entries could only ever
    // broadcast the frontier — Spark builds the non-preserved side — so
    // the flag is derived in two dim-grain steps instead), and the
    // resulting known-url set (≤ the entries size) flags the entries in a
    // second broadcast join. Both exchanges carry dims; frontier rows
    // stream.
    "tx_feed_discovery" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val entries = ing.feedArchives(s, dir)
        .flatMap { r =>
          graft.operators.Feeds.parse(r.content).map(e =>
            (r.media_id, e.kind, e.link, e.published))
        }
        .toDF("host_k", "kind", "url", "published")
      val frontier = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/post/"), col("doc_id")).as("url"))
      val knownUrls = frontier
        .join(broadcast(entries.select(col("url")).distinct()),
          Seq("url"), "left_semi")
        .withColumn("known", lit(1L))
      val flagged = entries.join(broadcast(knownUrls), Seq("url"), "left_outer")
      flagged
        .groupBy(col("host_k"))
        .agg(max(col("kind")).as("kind"),
          count(lit(1)).as("n_entries"),
          sum(coalesce(col("known"), lit(0L))).as("n_known"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("known").isNull,
            regexp_extract(col("url"), "new-(\\d+)$", 1).cast("long"))
            .otherwise(0L)).as("new_id_sum"))
        .select(concat(lit("src"), col("host_k"), lit(".invalid")).as("host"),
          col("kind"), col("n_entries"), col("n_known"), col("n_new"),
          col("new_id_sum"))
        .orderBy(col("host"))
    }),

    // the TRANSFER-DECODE seam: wild WARC captures store bodies exactly
    // as the server sent them, so Content-Encoding must be undone before
    // charset/boilerplate/PDF work. The corpus exercises the whole
    // routing table — gzip, spec deflate (zlib), the wild-server RAW
    // deflate under the same token (decode retries unwrapped), identity,
    // bzip2 (both CRCs verified), and an
    // unsupported brotli token that DIVERTS with the original
    // bytes kept and the reject named. Decoded text is pinned exactly.
    // Scale shape: per-record scalar decode inside the archive explode's
    // partition — bodies never shuffle to be decoded.
    "tx_content_encoding" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.encodedArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_encoding").as("encoding"),
          col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, enc, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          val d = graft.operators.HttpPayload.decodeTransfer(body, enc)
          (id, enc, d.clean, d.reason, d.body.length.toLong,
            new String(d.body, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("doc_id", "encoding", "clean", "reason", "n_bytes", "text")
        .orderBy(col("doc_id"))
    }),

    // the 1.5-PROFILE roundtrip: the same per-doc fabrication idea as
    // tx_pdf_text but written the MODERN way — catalog/pages/font/page
    // dicts packed in a compressed object stream (§7.5.7), located by a
    // cross-reference STREAM with /W widths and the PNG Up predictor
    // (§7.5.8) — and extracted back through the type-2 entry walk. Same
    // scale shape as tx_pdf_text: map-only per-record work.
    "tx_pdf_text15" -> ((s, dir) => {
      import s.implicits._
      val docs = docIds(s, dir)
        .map { id =>
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id v1.5 page $p ‘€${id % 9}’\nmodern ${id % 7} (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.write15(pages))
          (id, got.nPages.toLong, got.pages)
        }.toDF("doc_id", "n_pages", "pages")
      docs.select(col("doc_id"), col("n_pages"),
          posexplode(col("pages")).as(Seq("page_idx", "text")))
        .select(col("doc_id"), col("n_pages"),
          col("page_idx").cast("long").as("page_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("page_idx"))
    }),

    // the §7.4 FILTER FAMILY in situ: each document's content streams go
    // through the cascade id%5 picks (LZW / ASCIIHex / ASCII85 /
    // RunLength / ASCII85+Flate), write and extract — so every filter
    // decoder is driver-verified inside a real file, not just unit-
    // tested. Map-only per-record work.
    "tx_pdf_filters" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val cascade = graft.operators.Ingest.modernCascade(id)
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id filtered page $p ‘…’\nchain ${id % 5} (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.writeWithFilters(pages, cascade))
          (id, cascade.mkString(">"), got.nPages.toLong,
            got.pages.map(_.length.toLong).sum)
        }.toDF("doc_id", "filter_chain", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // the `.warc.zst` ingest seam: archives in the IIPC zstd layout (one
    // frame per record; even archives dictionary-led, odd dict-less)
    // explode through the SAME ingestWarc walk as gzip/plain — the
    // compression transparency a Common-Crawl-shaped corpus needs now
    // that CC publishes zstd. Map-only explode, bodies never shuffle.
    "tx_warc_zstd" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.zstdArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          (id, new String(body, java.nio.charset.StandardCharsets.UTF_8))
        }.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Content-Encoding: zstd (RFC 9659) through the transfer-decode
    // seam — the id%3 routing exercises zstd next to gzip and identity
    // so the new token rides the exact same divert-or-decode table.
    "tx_zstd_encoding" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.encodedArchives(s, dir,
          modeOf = id => Seq("zstd", "gzip", "")((id % 3).toInt)))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_encoding").as("encoding"),
          col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, enc, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          val d = graft.operators.HttpPayload.decodeTransfer(body, enc)
          (id, enc, d.clean, d.body.length.toLong,
            new String(d.body, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("doc_id", "encoding", "clean", "n_bytes", "text")
        .orderBy(col("doc_id"))
    }),

    // the MODERN-STACK capstone: `.warc.zst` archives carrying PDF 1.5
    // files (even docs: object + xref streams; odd docs: classic files
    // under the id%5 filter cascade), every fifth /Encrypt-spliced so
    // the divert seam fires on the modern layout too — zstd framing,
    // 1.5 walk, filter family, and quarantine in ONE pipeline. Two
    // map-only walks, zero shuffles before the final projection.
    "tx_pdf_modern" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.modernPdfArchives(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_content_type") === "application/pdf")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          try {
            val t = graft.operators.PdfCodec.extractText(body)
            (id, "ok", t.nPages.toLong, t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // ...and the PDF DIVERT seam: every fifth doc is an /Encrypt'd PDF —
    // the header-only probe keeps the container label with decodable =
    // false and no page count (it never throws), and the extract pass
    // reports the NAMED reject instead of killing the task. The status
    // column IS the quarantine reason the Quality seam files on.
    "tx_pdf_quarantine" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          // the encrypted lane is REALLY encrypted now (standard security
          // handler, user password set), so the reject is the honest
          // "password required" — empty-password files decrypt instead
          // (tx_pdf_encrypted) and never reach quarantine
          val bytes =
            if (id % 5 == 0) graft.operators.PdfCodec.writeEncrypted(
              Seq(s"quarantine probe $id"),
              Seq("rc4-40", "rc4-128", "aes-128", "aes-256")(((id / 5) % 4).toInt),
              userPw = "locked")
            else graft.operators.PdfCodec.write(
              Seq(s"quarantine probe $id"), compress = false)
          val probe = graft.operators.Multimodal.probeBytes(id, bytes)
          val status =
            try { graft.operators.PdfCodec.extractText(bytes); "ok" }
            catch { case e: IllegalArgumentException => e.getMessage }
          (id, probe.container, probe.n_frames, probe.decodable, status)
        }
        .toDF("doc_id", "container", "n_pages", "decodable", "status")
        .orderBy(col("doc_id"))
    }),

    // LEGACY POWERPOINT (.ppt) — the [MS-PPT] record-tree walk over the
    // CFB container: nested containers (Document → SlideListWithText →
    // Slide), both text atoms (TextBytesAtom low-byte lane; every 4th
    // doc carries a wide char so TextCharsAtom/UTF-16 rides the corpus),
    // paragraph marks mapped. Map-only per-record walk.
    "tx_ppt_text" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val nSlides = (1 + id % 3).toInt
          val slides = (0 until nSlides).map { k =>
            Seq(s"Slide $k of $id",
              s"Bullet ${id % 5} — café" + (if (id % 4 == 1) " 漢" else ""))
          }
          val texts = graft.operators.MsPpt.extractTexts(
            graft.operators.MsPpt.write(slides))
          (id, nSlides.toLong, texts)
        }
        .toDF("doc_id", "n_slides", "texts")
        .select(col("doc_id"), col("n_slides"),
          posexplode(col("texts")).as(Seq("slide_idx", "text")))
        .select(col("doc_id"), col("n_slides"),
          col("slide_idx").cast("long").as("slide_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("slide_idx"))
    }),

    // LEGACY EXCEL (.xls, BIFF8) — the [MS-XLS] record walk over the
    // CFB container: SST shared strings (every 3rd doc written with a
    // tiny record cap, forcing REAL CONTINUE splits that resume
    // mid-string behind fresh width flags), LABELSST + RK + NUMBER cell
    // lanes, multi-sheet BOUNDSHEET offsets, a wide (UTF-16) string per
    // sheet. Cells flatten to rows; map-only per-record walk.
    "tx_xls_text" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val nSheets = (1 + id % 2).toInt
          val sheets = (0 until nSheets).map { k =>
            s"S$k" -> Seq(
              Seq[Any](s"Cell $id-$k r0", id * 3 + k),
              Seq[Any](3.5, s"wide 日本 $id"))
          }
          val cap = if (id % 3 == 0) 64 else 8224
          val got = graft.operators.MsXls.extract(
            graft.operators.MsXls.write(sheets, maxRecordBytes = cap))
          got.cells.map(c =>
            (id, c.sheet.toLong, c.row.toLong, c.col.toLong, c.text))
        }
        .toDF("doc_id", "sheet", "row", "col", "text")
        .orderBy(col("doc_id"), col("sheet"), col("row"), col("col"))
    }),

    // ENCRYPTED legacy Excel — [MS-OFFCRYPTO] over FILEPASS, the .xls
    // analog of the encrypted-PDF lane: workbooks ciphered under
    // Excel's documented default password (VelvetSweatshop, tried
    // transparently on open) decrypt and extract without any secret;
    // handlers rotate by id%2 (97/2000 MD5-RC4 / RC4 CryptoAPI SHA-1),
    // per-1024-byte-block rekeying over the whole Workbook stream.
    // Every 7th workbook carries a REAL password and stays the named
    // reject. Map-only per-record decrypt+walk, nothing crosses an
    // exchange.
    "tx_xls_encrypted" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val method = if (id % 2 == 0) "rc4" else "rc4capi"
          val sheets = Seq("S0" -> Seq(
            Seq[Any](s"Secret cell $id — café", id * 7),
            Seq[Any](s"wide 機密 $id", id.toDouble / 2)))
          val locked = id % 7 == 0
          val bytes = graft.operators.MsXls.write(sheets, encryption = method,
            password = if (locked) "actual-secret"
            else graft.operators.OffCrypto.DefaultXlsPassword)
          try {
            val t = graft.operators.MsXls.extract(bytes)
            (id, method, "ok", t.cells.length.toLong, t.text)
          } catch {
            case e: IllegalArgumentException => (id, method, e.getMessage, 0L, "")
          }
        }
        .toDF("doc_id", "method", "status", "n_cells", "text")
        .orderBy(col("doc_id"))
    }),

    // ENCRYPTED MODERN OFFICE (.docx under [MS-OFFCRYPTO] §2.3.4) — the
    // largest readable-but-rejected class closed: schemes rotate by id%2
    // (Standard AES-ECB with the 50k SHA-1 KDF / Agile AES-CBC SHA-512
    // with the HMAC dataIntegrity gate), packages ciphered under
    // Office's transparent-open default password decrypt and extract
    // without any secret; every 7th document carries a REAL password
    // and stays the named reject. The iterated KDF is cached per
    // distinct credential (two per corpus), so the per-record cost is
    // the AES, not the spin. Map-only per-record decrypt + OPC walk.
    "tx_office_encrypted" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val scheme = if (id % 2 == 0) "standard" else "agile"
          val paras = Seq(
            s"Protected doc $id — café",
            s"body ${id % 5} 機密 content")
          val pkg = graft.operators.OfficeCodec.writeDocx(paras)
          val locked = id % 7 == 0
          val pw = if (locked) "actual-secret"
            else graft.operators.OoxmlCrypto.DefaultPassword
          val bytes =
            if (scheme == "standard")
              graft.operators.OoxmlCrypto.writeStandard(pkg, pw)
            else graft.operators.OoxmlCrypto.writeAgile(pkg, pw)
          try {
            val t = graft.operators.OfficeCodec.extractText(bytes)
            (id, scheme, "ok", t.nParagraphs.toLong, t.text)
          } catch {
            case e: IllegalArgumentException => (id, scheme, e.getMessage, 0L, "")
          }
        }
        .toDF("doc_id", "scheme", "status", "n_paragraphs", "text")
        .orderBy(col("doc_id"))
    }),

    // ENCRYPTED PDFs — the standard security handler (ISO 32000-1
    // §7.6.3 / 32000-2 §7.6.4) over the dominant wild class: documents
    // whose OWNER password restricts editing but whose USER password is
    // empty, readable without any secret. Ciphers rotate by id%4
    // (RC4-40 / RC4-128 / AES-128-CBC / AES-256 R6); every 7th document
    // carries a REAL user password and stays the named reject — only
    // truly-locked files quarantine now. Map-only per-record decrypt +
    // extract; keys derive per record, nothing crosses an exchange.
    "tx_pdf_encrypted" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val method =
            Seq("rc4-40", "rc4-128", "aes-128", "aes-256")((id % 4).toInt)
          val pages = (0 until (1 + id % 2).toInt).map(p =>
            s"Secret doc $id page $p ‘café’\nciphered ${id % 5} — (p$p)")
          val locked = id % 7 == 0
          val bytes = graft.operators.PdfCodec.writeEncrypted(pages, method,
            userPw = if (locked) "secret" else "")
          try {
            val t = graft.operators.PdfCodec.extractText(bytes)
            (id, method, "ok", t.nPages.toLong,
              t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, method, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "method", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // CJK PDFs — composite Type0/CID fonts (ISO 32000-1 §9.7) decoded
    // through their /ToUnicode CMap (§9.10.3): Identity-H 2-byte codes,
    // bfchar + bfrange blocks genuinely parsed (ASCII rides bfrange,
    // CJK rides bfchar in the fixture's identity CMap). Scripts rotate
    // by id%4 (han/hanzi/hangul/kana); every 5th document OMITS the
    // ToUnicode CMap — the truly-undecodable shape — and must stay the
    // NAMED reject, so the lane asserts only unmapped fonts divert.
    // Map-only per-record decode, same shape as every document lane.
    "tx_pdf_cjk" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val phrase = Seq("漢字処理", "中文文本", "한국어 텍스트",
            "日本語テキスト")((id % 4).toInt)
          val pages = (0 until (1 + id % 2).toInt).map(p =>
            s"文書 $id 頁 $p — $phrase\n行 ${id % 7} 内容 café ($p)")
          val bytes = graft.operators.PdfCodec.writeCjk(pages,
            toUnicode = id % 5 != 0)
          try {
            val t = graft.operators.PdfCodec.extractText(bytes)
            (id, "ok", t.nPages.toLong, t.pages.mkString("\n"),
              t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, "", 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "text", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // HOST HEALTH from fetch outcomes — the feedback loop the politeness
    // surface was missing: per-host HTTP status mix out of the REAL
    // archive walk (statuses rotate per host via the (id div 20 + id%20)
    // rule, so error rates genuinely differ), exact integer error
    // permille, and a backoff verdict that DOUBLES the host's declared
    // Crawl-Delay (REAL robots parsing, as tx_budget_capacity) before
    // recomputing its hourly fetch capacity — error-heavy hosts lose
    // budget, healthy hosts keep theirs. Scale shape: map-only archive
    // explode carrying (host, status) only, ONE host-grain aggregate,
    // robots dim broadcast.
    "tx_host_health" -> ((s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val fetches = ing.ingestWarc(ing.statusArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("url"), "//([^/]+)/", 1).as("host"),
          col("http_status").as("status"))
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      fetches.groupBy(col("host"))
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("status") >= 200 && col("status") < 300, 1L)
            .otherwise(0L)).as("n_2xx"),
          sum(when(col("status") >= 300 && col("status") < 400, 1L)
            .otherwise(0L)).as("n_3xx"),
          sum(when(col("status") >= 400 && col("status") < 500, 1L)
            .otherwise(0L)).as("n_4xx"),
          sum(when(col("status") >= 500, 1L).otherwise(0L)).as("n_5xx"))
        .withColumn("error_permille",
          expr("(n_4xx + n_5xx) * 1000 div n_fetches"))
        .withColumn("backoff", col("error_permille") >= 300)
        .join(broadcast(robots), Seq("host"))
        .withColumn("effective_delay_s",
          when(col("backoff"), col("delay_s") * 2).otherwise(col("delay_s")))
        .withColumn("capacity", expr("3600 div effective_delay_s"))
        .select(col("host"), col("n_fetches"), col("n_2xx"), col("n_3xx"),
          col("n_4xx"), col("n_5xx"), col("error_permille"), col("backoff"),
          col("delay_s"), col("effective_delay_s"), col("capacity"))
        .orderBy(col("host"))
    }),

    // PDF document metadata (§14.3.3) — the PROVENANCE half of PDF
    // mining: /Info title/author/producer/dates extracted header-only
    // (xref walk + one dict, no stream ever decompresses). The corpus
    // forces BOTH text-string encodings (§7.9.2.2): titles carry № —
    // outside PDFDocEncoding, so the writer emits UTF-16BE with the BOM —
    // while authors carry an ellipsis that PDFDocEncoding encodes at 0x83
    // (a DIFFERENT slot than WinAnsi's 0x85: the two tables are pinned
    // apart by the same fixture). Map-only per-record walk.
    "tx_pdf_meta" -> ((s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val title = s"Report $id — ‘résumé’ №${id % 100}"
          val author = s"Author ${id % 7} (unit…)"
          val pdf = graft.operators.PdfCodec.write(
            Seq(s"body $id"), compress = id % 2 == 0,
            info = Seq("Title" -> title, "Author" -> author,
              "Producer" -> "graft 1.0",
              "CreationDate" -> s"D:2026010${1 + id % 9}000000Z"))
          val m = graft.operators.PdfCodec.info(pdf)
          (id, m.title.getOrElse(""), m.author.getOrElse(""),
            m.producer.getOrElse(""), m.created.getOrElse(""),
            m.subject.isEmpty)
        }
        .toDF("doc_id", "title", "author", "producer", "created", "no_subject")
        .orderBy(col("doc_id"))
    }),

    // from seed RANKING to crawl PLAN: the host ranks (3 integer
    // iterations, as tx_link_rank) apportion a 10,000-page fetch budget —
    // exact largest-remainder across arithmetic shards (k % 4), exact
    // cumulative-rounding within each shard, sum(alloc) == 10000 to the
    // page. Every division is integer, so DuckDB replays the whole plan:
    // rank iterations AND both apportionment levels. Scale shape: the
    // only unpartitioned window runs over nShards rows (bounded by
    // construction); the host-grain pass is one shard-partitioned window.
    "tx_crawl_budget" -> ((s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 10000L)
        .orderBy(col("host"))
    }),

    // deterministic epoch shuffle: every epoch visits the corpus in a
    // different pseudorandom order that is a BIJECTION (two
    // multiplicative rounds mod the Mersenne prime 2^31-1) and pure
    // integer arithmetic, so DuckDB replays both epochs' exact ranks.
    // Shards are value ranges of the rank — the range-partition the real
    // epochShuffle writer uses — and n_ranks == n_docs per shard pins
    // injectivity; id_sum pins exact membership (epoch 0 and 1 place
    // different docs in each shard).
    "tx_epoch_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val width = (2147483647L + 7L) / 8L // 8 rank-range shards
      def epochStats(epoch: Int) =
        d.select(col("doc_id"),
            graft.operators.Sampling.epochRank(col("doc_id"), epoch).as("rank"))
          .groupBy(col("rank"))
          .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("ids"))
          .withColumn("shard", floor(col("rank") / lit(width)).cast("long"))
          .groupBy(col("shard"))
          .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_ranks"),
            sum(col("ids")).as("id_sum"),
            min(col("rank")).as("rank_min"), max(col("rank")).as("rank_max"))
          .withColumn("epoch", lit(epoch.toLong))
      epochStats(0).unionByName(epochStats(1))
        .select(col("epoch"), col("shard"), col("n_docs"), col("n_ranks"),
          col("id_sum"), col("rank_min"), col("rank_max"))
        .orderBy(col("epoch"), col("shard"))
    }),

    // the crawl TRIAGE pass: a mixed ten-family corpus (png/jpeg/wav/
    // flac/ogg-flac/mp3/ogg-vorbis/avi/mp4/mkv+webm) probed from HEADERS
    // ONLY — container, codec, geometry, duration, and whether this
    // engine can fully decode it. mp3 and ogg-vorbis probe with full
    // geometry but decodable=false (decode is a loud reject, MEDIA.md);
    // every field derives from doc_id arithmetic so DuckDB predicts the
    // whole table. Map-only: the expensive full decode runs ONLY on
    // records triage routes to it.
    "mm_media_probe" -> ((s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      mm.probeMedia(mm.mixedMediaFromDocuments(s, dir))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // cross-container VIDEO dedup, completing the modality triple: the
    // same frames shipped as raw MJPEG, AVI (every 3rd doc), and MP4
    // (every 5th) fold to the same ordered-frame-hash fingerprint, so
    // exact-key clustering (maxHamming 0) recovers every planted clone
    // group and nothing else — the oracle derives all of it from doc_id.
    "mm_video_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.videoDedupCorpusFromDocuments(s, dir)
      val fps = graft.operators.Multimodal.videoFingerprints(media,
        () => new graft.operators.Multimodal.ImageIoDecoder)
      graft.operators.Dedup.perceptualDedup(fps, "fingerprint", "media_id", maxHamming = 0)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    }),

    // cross-container audio dedup: the same recording shipped as WAV and
    // (every third document) as OGG-FLAC must cluster — the fingerprint is
    // computed from decoded PCM, so lossless transcoding cannot hide a
    // duplicate. Blocking is the same pigeonhole equi-join as the image
    // path; AudioFingerprintSpec pins cross-clip separation exhaustively
    // over the sf0.1 id range, so the oracle's doc_id rule is exact.
    "mm_audio_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.audioDedupCorpusFromDocuments(s, dir)
      val fps = graft.operators.Multimodal.audioFingerprints(media)
      graft.operators.Dedup.perceptualDedup(fps, "fingerprint", "media_id", maxHamming = 2)
        .select(col("id").as("media_id"), col("cluster"), col("kept"))
        .orderBy(col("media_id"))
    }),

    // corrupt-media policy on the normalization stages: every 7th record of
    // each corpus is truncated to garbage, then pushed through the SAFE
    // resize/resample variants — the batch must survive with the bad rows
    // DIVERTED (stable reason tags), and every survivor must be genuinely
    // processed (image long side <= 16 on re-decode; audio at 16 kHz). The
    // oracle derives the ok/diverted counts from the doc_id rule.
    "mm_media_quarantine" -> ((s, dir) => {
      import s.implicits._
      val mm = graft.operators.Multimodal
      def dec = () => new mm.ImageIoDecoder
      val corruptPng = mm.pngMediaFromDocuments(s, dir).map(r =>
        if (r.media_id % 7 == 0) r.copy(content = java.util.Arrays.copyOf(r.content, 8)) else r)
      val corruptWav = mm.wavMediaFromDocuments(s, dir).map(r =>
        if (r.media_id % 7 == 0) r.copy(content = java.util.Arrays.copyOf(r.content, 10)) else r)
      // checkpointed (r14): each outcome feeds the survivor re-decode AND
      // the status aggregate — fabricate+resize/resample once, not twice
      val imgOut = mm.resizeImagesSafe(corruptPng, maxDim = 16).localCheckpoint()
      val audOut = mm.resampleAudioSafe(corruptWav, targetRate = 16000).localCheckpoint()
      val imgOk = mm.decodeImages(mm.keptRecords(imgOut), dec).toDF()
        .select(col("media_id"), (greatest(col("width"), col("height")) <= 16).as("ok"))
      val audOk = mm.decodeAudioFeatures(mm.keptRecords(audOut), dec).toDF()
        .select(col("media_id"), (col("sample_rate") === 16000).as("ok"))
      def statusAgg(out: org.apache.spark.sql.Dataset[mm.MediaOutcome],
          modality: String, okDf: org.apache.spark.sql.DataFrame) =
        out.toDF().select(col("media_id"), coalesce(col("error"), lit("ok")).as("status"))
          .join(okDf, Seq("media_id"), "left")
          .groupBy(lit(modality).as("modality"), col("status"))
          .agg(count(lit(1)).as("n_rows"),
            bool_and(coalesce(col("ok"), lit(true))).as("survivors_ok"))
      statusAgg(imgOut, "image", imgOk)
        .unionAll(statusAgg(audOut, "audio", audOk))
        .orderBy(col("modality"), col("status"))
    }),

    // real video-frame decode: deterministic MJPEG clips (frame count
    // derived from doc_id) sampled every 2nd frame through the JPEG codec;
    // the oracle predicts the sampled-frame count independently. Frame
    // hashes are codec artifacts asserted in the unit suite.
    "mm_video_frames" -> ((s, dir) => {
      val media = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      graft.operators.Multimodal.sampleFrames(media, everyN = 2,
          () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"),
          countDistinct(col("frame_hash")).as("n_distinct_hashes"))
        .select(col("media_id"), col("n_sampled"),
          (col("n_distinct_hashes") >= lit(1)).as("hashes_ok"))
        .orderBy(col("media_id"))
    }),

    // real CONTAINER demux: the same deterministic JPEG frames shipped in a
    // spec-correct RIFF/AVI container (hdrl+movi+idx1), demuxed by chunk
    // structure and decoded through the JPEG codec. The query proves the
    // container path end-to-end AND that it lands on identical frame hashes
    // as the raw concatenated-MJPEG path — per media_id, the sampled hash
    // multisets from both containers must be equal.
    "mm_avi_frames" -> ((s, dir) => {
      val avi = graft.operators.Multimodal.aviMediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(avi).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    }),

    // real ISO BMFF demux: the same deterministic JPEG frames shipped in a
    // spec-correct MP4 (ftyp + moov stsc/stsz/stco tables + mdat), demuxed
    // by box structure and decoded through the JPEG codec. Same parity
    // contract as mm_avi_frames: per media_id, the sampled hash multisets
    // from the MP4 path and the raw concatenated-MJPEG path must be equal.
    "mm_mp4_frames" -> ((s, dir) => {
      val mp4 = graft.operators.Multimodal.mp4MediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(mp4).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    }),

    // container-parity contract as mm_avi_frames/mm_mp4_frames: per
    // media_id, the sampled hash multisets from the Matroska path (DocType
    // alternating matroska/webm — the demux is structural and must not
    // care) and the raw concatenated-MJPEG path must be equal.
    "mm_mkv_frames" -> ((s, dir) => {
      val mkv = graft.operators.Multimodal.mkvMediaFromDocuments(s, dir)
      val mjpeg = graft.operators.Multimodal.mjpegMediaFromDocuments(s, dir)
      def sampled(m: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord]) =
        graft.operators.Multimodal.sampleFrames(m, everyN = 2,
            () => new graft.operators.Multimodal.ImageIoDecoder).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_sampled"),
            sort_array(collect_list(col("frame_hash"))).as("hashes"))
      sampled(mkv).alias("a")
        .join(sampled(mjpeg).alias("m"), "media_id")
        .select(col("media_id"), col("a.n_sampled").as("n_sampled"),
          (col("a.hashes") === col("m.hashes") &&
            col("a.n_sampled") === col("m.n_sampled")).as("container_parity"))
        .orderBy(col("media_id"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val media = graft.operators.Multimodal.fakeMediaFromDocuments(s, dir)
      graft.operators.Multimodal.sampleFrames(media, everyN = 100).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("media_id"))
    }),

    // quarantine re-admission, oracle-replayed END TO END: reference
    // histogram + quarantined slices are deterministic subsets of the
    // documents table, the per-source TVD is exact integer arithmetic, and
    // the readmit decision (tvd < threshold) is recomputed independently by
    // DuckDB — full row parity on (source, tvd, n_rows, readmitted).
    // Three slice kinds ride in the quarantine: in-distribution per-source
    // slices (low TVD -> readmitted), a 'drifted' source collapsed to a
    // single histogram bin (stays), and an 'unknown_src' absent from the
    // reference (null tvd, stays by definition).
    "tx_quarantine_readmit" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_readmit")
      val refPath = tmp.resolve("reference").toString
      val quarPath = tmp.resolve("quarantine").toString
      val outPath = tmp.resolve("corpus").toString
      val bin = col("n_chars") % 8
      val good = d.filter(col("doc_id") % 3 =!= 0).select(col("source"), col("n_chars"))
      graft.streaming.StreamingQuarantine.writeReference(
        good.unionByName(good.withColumn("source", lit("drifted"))),
        "source", bin, refPath)
      val q0 = d.filter(col("doc_id") % 3 === 0)
        .select(col("source"), col("doc_id"), col("n_chars"))
      q0.unionByName(q0.filter(col("n_chars") % 8 === 0)
          .withColumn("source", lit("drifted")))
        .unionByName(q0.filter(col("doc_id") % 5 === 0)
          .withColumn("source", lit("unknown_src")))
        .withColumn("tvd", lit(null).cast("double"))
        .write.mode("overwrite").parquet(quarPath)
      graft.streaming.StreamingQuarantine.readmit(
          s, "source", bin, refPath, tvdThreshold = 0.35, outPath, quarPath)
        .select(col("source"), round(col("tvd"), 4).as("tvd"),
          col("n_rows"), col("readmitted"))
        .orderBy(col("source"))
    }),

    "tx_lang_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // one text_stats pass feeds both language-ID and quality; both are
      // deterministic closed-form heuristics, so the DuckDB oracle recomputes
      // them from raw text (same stopword profiles, same component formulas)
      d.withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.langIdFrom(col("_ts")).as("lang_pred"),
          graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // HTML-to-text extraction — the first transform of every crawl pipeline.
    // Each document is wrapped in a deterministic page skeleton (head/style
    // block, comment, h1, script with markup-looking JS, entity showcase;
    // raw & and < in the body escaped, as any real serializer would), then
    // the single-pass native `html_to_text` recovers the visible text. The
    // oracle rebuilds the SAME page in SQL and replays the extraction as a
    // regex/REPLACE chain — full-string hash compare, so tag stripping,
    // script/comment elision, entity decoding, and whitespace collapse all
    // have to agree byte-for-byte. Map-only scalar: safe on a 100 TB scan.
    "tx_html_extract" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val esc = regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;")
      val html = concat(
        lit("<html><head><title>doc</title><style type=\"text/css\">p { color: #333; }</style></head><body><!-- id "),
        col("doc_id").cast("string"),
        lit(" --><h1>"), col("source"),
        lit("</h1>\n<p>"), esc,
        lit("</p><script type=\"text/javascript\">var n = 1 < 2 && \"</p>\";</script><div>&quot;fin&quot;&nbsp;&#8212;&nbsp;ok</div></body></html>"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.htmlToText(html).as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // HTML metadata extraction — the companion pass to tx_html_extract:
    // crawl pipelines keep (title, link density, heading structure) next to
    // the visible text for quality filters and dedup keys. Pure builtin
    // composition (regexp_extract/regexp_count are codegen'd; the title
    // fragment reuses html_to_text for decode+collapse), all replayed
    // verbatim in DuckDB. Link count varies per document (doc_id % 4 + 1
    // repeated anchors) so the counts are data, not constants.
    "tx_html_metadata" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val esc = regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" — "), col("source"), lit("</title></head><body><h1>Doc</h1><h2>part one</h2>"),
        expr("repeat('<a href=\"/x\">link</a>', CAST(doc_id % 4 + 1 AS INT))"),
        lit("<p>"), esc, lit("</p><h3>notes</h3></body></html>"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.htmlToText(
            regexp_extract(html, "(?s)<title[^>]*>(.*?)</title>", 1)).as("title"),
          regexp_count(html, lit("<a\\s")).as("n_links"),
          regexp_count(html, lit("<h[1-6][\\s>]")).as("n_headings"))
        .orderBy(col("doc_id"))
    }),

    // Unicode cleanup — NFC canonical composition + C0/DEL control strip
    // (keeping tab/newline/CR). The input plants the classic hazards after
    // each document: combining acute (e+U+0301), the ANGSTROM SIGN singleton
    // (U+212B -> U+00C5), control bytes, A+combining ring. DuckDB replays
    // with its own nfc_normalize + the same RE2 class — two independent
    // Unicode implementations must produce identical strings.
    "tx_unicode_clean" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val messy = concat(col("text"),
        lit(" Cafe\u0301 \u212B over\u0002flow\u0007 A\u030A"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.unicodeClean(messy).as("cleaned"))
        .orderBy(col("doc_id"))
    })
  )

  /** Shared DuckDB CTE: word-3-shingle sets per document (the exact-Jaccard
    * ground truth the minhash/dedup oracles verify against).
    */
  // Generated integer-rank iteration CTE pairs (c_i/r_i) for oracles that
  // replay more rounds than are worth handwriting — same arithmetic as
  // tx_link_rank's unrolled three. MATERIALIZED is load-bearing: DuckDB
  // inlines plain CTEs, and a 24-deep inlined chain hands the join-order
  // optimizer a ~100-relation tree (measured: >5 min at sf0.01;
  // materialized: 0.4 s).
  // One damped-integer rank iteration per step, unrolled as DuckDB CTEs.
  // `g` suffixes the graph CTE names (e/deg/n) so one oracle can iterate
  // over TWO graphs (the old epoch's, then the merged one); `rp` prefixes
  // the rank CTEs so a warm-started chain (w0 seeded from the old chain's
  // terminal vector) coexists with the cold one.
  private def rankIterCtes(from: Int, to: Int, g: String = "",
      rp: String = "r"): String =
    (from to to).map { i =>
      s"""c$rp$i AS MATERIALIZED (SELECT e$g.dst AS host, CAST(SUM(($rp${i - 1}.rank * 17 // 20) // deg$g.out_deg) AS BIGINT) AS contrib
         |       FROM e$g JOIN deg$g ON deg$g.src = e$g.src JOIN $rp${i - 1} ON $rp${i - 1}.host = e$g.src GROUP BY e$g.dst),
         |$rp$i AS MATERIALIZED (SELECT n$g.host, 150000 + COALESCE(c$rp$i.contrib, 0) AS rank
         |       FROM n$g LEFT JOIN c$rp$i ON c$rp$i.host = n$g.host)""".stripMargin
    }.mkString(",\n")

  // Shared oracle prefix for the budget-capacity family
  // (tx_budget_capacity / tx_budget_replan): the 3-iteration integer rank
  // replay, the two-level 300-page apportionment, and the Crawl-Delay
  // join, ending in `capped(host, alloc, delay_s)`.
  private val budgetCappedCtes: String =
    """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
      |e0 AS (
      |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
      |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
      |  UNION SELECT k, (k + 11) % 20 FROM ks),
      |e AS (SELECT 'src' || s || '.invalid' AS src,
      |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
      |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
      |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
      |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
      |       FROM n LEFT JOIN c1 ON c1.host = n.host),
      |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
      |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
      |       FROM n LEFT JOIN c2 ON c2.host = n.host),
      |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
      |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
      |       FROM n LEFT JOIN c3 ON c3.host = n.host),
      |ranked AS (SELECT host, rank,
      |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard
      |  FROM r3),
      |sw AS (SELECT shard, CAST(SUM(rank) AS BIGINT) AS ws
      |       FROM ranked GROUP BY shard),
      |g AS (SELECT CAST(SUM(ws) AS BIGINT) AS w FROM sw),
      |sb AS (SELECT shard, ws, 300 * ws // w AS base,
      |         (300 * ws) % w AS rem FROM sw, g),
      |lo AS (SELECT CAST(300 - SUM(base) AS BIGINT) AS leftover FROM sb),
      |rkd AS (SELECT shard, ws, base +
      |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
      |      <= leftover THEN 1 ELSE 0 END AS bs
      |  FROM sb, lo),
      |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
      |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
      |      ORDER BY ranked.host) AS BIGINT) AS cw
      |  FROM ranked JOIN rkd USING (shard)),
      |budget AS (SELECT host,
      |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
      |  FROM cum),
      |capped AS (SELECT host, alloc,
      |    CAST(1 + CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 5
      |      AS BIGINT) AS delay_s
      |  FROM budget)""".stripMargin

  private val shingleCte: String =
    """sh AS (
      |  SELECT doc_id, source,
      |    LIST_DISTINCT(
      |      CASE WHEN LEN(ws) < 3
      |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
      |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
      |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |      END) AS sh
      |  FROM (
      |    SELECT doc_id, source,
      |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
      |    FROM documents))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // ---- estimate queries: exact side computed by DuckDB, tolerance
    // booleans are hard TRUE (deterministic sketches, fixed data) ----
    "hll_users_total" ->
      "SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok FROM events",
    "hll_users_by_type" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_wire_roundtrip" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS roundtrip_exact, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_sketch_reagg" ->
      """SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merge_ok, TRUE AS est_ok
        |FROM events""".stripMargin,
    "hll_both_widths" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact,
        |  TRUE AS est32_ok, TRUE AS est64_ok FROM lineitem""".stripMargin,
    "hll_parts_by_returnflag" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact, TRUE AS est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_error_bound" ->
      "SELECT ROUND(1.04 / SQRT(1024), 6) AS rel_std_err, TRUE AS est_ok",
    "hll_distinct_pairs" ->
      """SELECT COUNT(*) AS exact_pairs, TRUE AS est_ok
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)""".stripMargin,
    "hll_kmv_sets" ->
      """WITH nh AS (
        |  SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh,
        |    COUNT(DISTINCT event_id) AS ne
        |  FROM events GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS exact_users,
        |  CAST(COUNT(*) FILTER (nh = 2) AS BIGINT) AS exact_users_both,
        |  CAST(SUM(ne) AS BIGINT) AS exact_events,
        |  TRUE AS union_ok, TRUE AS disjoint_exact,
        |  TRUE AS users_intersect_ok, TRUE AS users_jaccard_ok
        |FROM nh""".stripMargin,
    "hll_kmv_wire_roundtrip" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS wire_exact, TRUE AS roundtrip_exact,
        |  TRUE AS replay_exact, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_cms_wire_roundtrip" ->
      """SELECT event_type, COUNT(*) AS exact_n,
        |  TRUE AS roundtrip_exact, TRUE AS replay_exact, TRUE AS est_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_gk_wire_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS exact_n, TRUE AS roundtrip_exact,
        |  TRUE AS replay_in_bound, TRUE AS gk_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "hll_cms_reagg" ->
      """SELECT event_type, COUNT(*) AS exact_n,
        |  (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS n_days,
        |  TRUE AS merge_exact, TRUE AS est_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_topk_reagg" ->
      """SELECT event_type, COUNT(*) AS exact_n,
        |  (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS n_days,
        |  TRUE AS mg_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_topk_wire_roundtrip" ->
      """SELECT event_type, COUNT(*) AS exact_n, TRUE AS mg_exact,
        |  TRUE AS roundtrip_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "hll_kmv_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |nd AS (SELECT event_type, COUNT(*) AS nd FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT x.event_type AS et_a, y.event_type AS et_b,
        |    CAST(COUNT(*) AS BIGINT) AS exact_both
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.et_a, p.et_b,
        |  CAST(na.nd AS BIGINT) AS exact_a,
        |  CAST(nb.nd AS BIGINT) AS exact_b,
        |  exact_both,
        |  TRUE AS intersect_ok, TRUE AS jaccard_ok
        |FROM pairs p
        |JOIN nd na ON p.et_a = na.event_type
        |JOIN nd nb ON p.et_b = nb.event_type
        |ORDER BY et_a, et_b""".stripMargin,
    "hll_kmv_difference" ->
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (h0 = 1 AND h1 = 0) AS exact_a_only,
        |  COUNT(*) FILTER (h1 = 1 AND h0 = 0) AS exact_b_only,
        |  CAST(SUM(ne0) AS BIGINT) AS exact_events_a,
        |  TRUE AS diff_a_ok, TRUE AS diff_b_ok, TRUE AS diff_disjoint_ok
        |FROM (SELECT user_id,
        |        MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS h0,
        |        MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS h1,
        |        COUNT(DISTINCT event_id) FILTER (event_id % 2 = 0) AS ne0
        |      FROM events GROUP BY user_id)""".stripMargin,
    "hll_kmv_triple" ->
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nt = 3) AS exact_all3,
        |  TRUE AS triple_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nt
        |      FROM events
        |      WHERE event_type IN ('view', 'click', 'purchase')
        |      GROUP BY user_id)""".stripMargin,
    "hll_intersect_halves" ->
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nh = 2) AS exact_intersect,
        |  TRUE AS intersect_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh
        |      FROM events GROUP BY user_id)""".stripMargin,

    "hll_difference_halves" ->
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (h0 = 1 AND h1 = 0) AS exact_a_only,
        |  TRUE AS difference_ok
        |FROM (SELECT user_id,
        |        MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS h0,
        |        MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS h1
        |      FROM events GROUP BY user_id)""".stripMargin,
    "hll_jaccard_halves" ->
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nh = 2) AS exact_intersect,
        |  ROUND(CAST(COUNT(*) FILTER (nh = 2) AS DOUBLE) / COUNT(*), 4)
        |    AS exact_jaccard,
        |  TRUE AS jaccard_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh
        |      FROM events GROUP BY user_id)""".stripMargin,

    // ---- dedup family: exact-Jaccard ground truth recomputed from raw
    // text (LSH recall is total on this corpus: every true pair sits far
    // above the threshold, so the candidate sets coincide) ----
    "dd_minhash_pairs" ->
      s"""WITH $shingleCte
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5
        |ORDER BY id1, id2""".stripMargin,
    "dd_neardedup_keep" ->
      s"""WITH RECURSIVE $shingleCte,
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |drops AS (
        |  SELECT src AS id FROM reach GROUP BY src HAVING src > MIN(dst))
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM drops)
        |ORDER BY doc_id""".stripMargin,
    "dd_incremental_keep" ->
      s"""WITH $shingleCte,
        |cross_dups AS (
        |  SELECT b.doc_id AS bid
        |  FROM sh a JOIN sh b ON a.source != 'src3' AND b.source = 'src3'
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE source = 'src3' AND doc_id NOT IN (SELECT bid FROM cross_dups)
        |ORDER BY doc_id""".stripMargin,
    // simhash summary: n_neardups is recomputed exactly; the coverage and
    // pair counts are golden-locked at sf0.01 (heuristic recall, see query)
    "dd_simhash_pairs" ->
      s"""WITH $shingleCte,
        |near AS (
        |  SELECT COUNT(*) AS n_neardups
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5)
        |SELECT 956 AS n_pairs, 2 AS n_hamming0, n_neardups,
        |  21 AS n_neardups_covered FROM near""".stripMargin,
    "dd_embedding_neardup" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) >= 0.95
        |ORDER BY id1, id2""".stripMargin,

    "dd_semantic_keep" ->
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.95),
        |dropped AS (
        |  SELECT id2 AS dropped_id, MIN(id1) AS dup_of FROM pairs GROUP BY id2)
        |SELECT d.dropped_id, d.dup_of,
        |  (SELECT COUNT(*) FROM planted) - (SELECT COUNT(*) FROM dropped) AS n_kept
        |FROM dropped d ORDER BY d.dropped_id""".stripMargin,

    // ---- text analysis: heuristics recomputed from raw text ----
    "tx_lang_quality" ->
      """WITH stats AS (
        |  SELECT doc_id,
        |    LENGTH(text) AS n_chars,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\p{L}')) AS n_alpha,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[[:punct:]]')) AS n_punct,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]')) AS n_cjk
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, n_chars, n_alpha, n_punct, n_cjk,
        |    LEN(ws) AS n_words,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], w))) AS stop_en,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['le','la','les','de','des','et','un','une','du','que','est','dans','pour','qui','pas'], w))) AS stop_fr,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['el','la','los','las','de','y','que','en','un','una','es','por','con','para','su'], w))) AS stop_es,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['der','die','das','und','in','von','zu','mit','ist','den','nicht','ein','eine','auf','als'], w))) AS stop_de,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['als','and','auf','as','be','con','dans','das','de','den','der','des','die','du','ein','eine','el','en','es','est','et','for','his','in','is','ist','it','la','las','le','les','los','mit','nicht','of','on','para','pas','por','pour','que','qui','su','that','the','to','un','una','und','une','von','was','with','y','zu'], w))) AS stop_all
        |  FROM stats),
        |ratios AS (
        |  SELECT doc_id, n_cjk, stop_en, stop_fr, stop_es, stop_de,
        |    GREATEST(stop_en, stop_fr, stop_es, stop_de) AS best,
        |    CAST(n_chars AS DOUBLE) AS len,
        |    CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(stop_all AS DOUBLE) / n_words ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS mwl
        |  FROM scored)
        |SELECT doc_id,
        |  CASE WHEN n_cjk > 0 THEN 'zh'
        |       WHEN best <= 0 THEN 'und'
        |       WHEN stop_en = best THEN 'en'
        |       WHEN stop_fr = best THEN 'fr'
        |       WHEN stop_es = best THEN 'es'
        |       WHEN stop_de = best THEN 'de'
        |       ELSE 'und' END AS lang_pred,
        |  ROUND((
        |    (CASE WHEN len >= 200 AND len <= 50000 THEN 1.0 ELSE LEAST(len / 200.0, 1.0) END
        |     + LEAST(alpha_ratio / 0.6, 1.0))
        |     + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 5) END)
        |     + LEAST(stop_ratio / 0.05, 1.0)
        |     + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |  ) / 5.0, 4) AS quality
        |FROM ratios ORDER BY doc_id""".stripMargin,
    "tx_pii_compression" ->
      """SELECT doc_id,
        |  LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS pii_hits,
        |  TRUE AS compress_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // golden-locked summaries (values fixed by deterministic hashes at
    // sf0.01; n_pairs/counts that ARE text-derivable are computed)
    "tx_winnow_overlap" ->
      """SELECT COUNT(*) - 1 AS n_pairs, 473 AS n_pos_overlap,
        |  0.0337 AS mean_overlap, 0.1223 AS max_overlap FROM documents""".stripMargin,
    "tx_training_mix" ->
      """SELECT * FROM (VALUES
        |  ('src0', 'test', CAST(2 AS BIGINT)), ('src0', 'train', 19), ('src0', 'val', 4),
        |  ('src1', 'test', 2), ('src1', 'train', 7), ('src1', 'val', 1),
        |  ('src2', 'train', 6),
        |  ('src3', 'test', 2), ('src3', 'train', 2))
        |t(source, split, n_docs) ORDER BY source, split""".stripMargin,
    "tx_contamination" ->
      """SELECT CAST(1694 AS BIGINT) AS pairs_at_005, CAST(0 AS BIGINT) AS pairs_at_03,
        |  CAST(0 AS BIGINT) AS pairs_at_08""".stripMargin,
    // identical golden to tx_contamination BY DESIGN: the Bloom prune must
    // not change a single pair count
    "tx_contamination_pruned" ->
      """SELECT CAST(1694 AS BIGINT) AS pairs_at_005, CAST(0 AS BIGINT) AS pairs_at_03,
        |  CAST(0 AS BIGINT) AS pairs_at_08""".stripMargin,
    // deterministic sketch estimates (fixed hash, fixed data): the heavy
    // cross-source k-gram sharing these report (~0.43 Jaccard over the
    // word-soup corpus) is exactly why tx_contamination sees 1694 pairs at
    // the 0.05 threshold
    "tx_shard_overlap" ->
      """SELECT * FROM (VALUES
        |  ('src0', 'src2', 956.0, 0.4249),
        |  ('src0', 'src3', 951.0, 0.4261),
        |  ('src1', 'src2', 1004.0, 0.4439),
        |  ('src1', 'src3', 1003.0, 0.4478))
        |t(a_group, b_group, est_shared_fp, est_jaccard)
        |ORDER BY a_group, b_group""".stripMargin,
    "dd_pipeline_stats" ->
      """SELECT '0_input' AS stage, COUNT(*) AS n_docs FROM documents
        |UNION ALL SELECT '1_quality', 500
        |UNION ALL SELECT '2_lang', 382
        |UNION ALL SELECT '3_neardedup', 365
        |ORDER BY stage""".stripMargin,
    "sim_ann_ivf" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.7), (2, 10, 0.6), (3, 10, 0.6), (4, 10, 0.6))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin,
    "sim_ann_lsh" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.8), (2, 10, 0.9), (3, 10, 1.0), (4, 10, 0.9))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin,
    // per-dimension calibration re-derived from raw lists; the bound is a
    // theorem, so bound_ok is a hard TRUE
    "sim_int8_quantize" ->
      """WITH u AS (
        |  SELECT unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |d AS (
        |  SELECT i - 1 AS pos, MIN(x) AS mn0, MAX(x) AS mx0
        |  FROM u GROUP BY i),
        |n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
        |SELECT pos, ROUND(CAST(mn0 AS DOUBLE), 6) AS mn,
        |  ROUND(CAST(mx0 AS DOUBLE), 6) AS mx, n_vecs, TRUE AS bound_ok
        |FROM d, n ORDER BY pos""".stripMargin,
    "sim_embedding_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  ROUND(MIN(nrm), 4) AS norm_min,
        |  ROUND(AVG(nrm), 4) AS norm_avg,
        |  ROUND(MAX(nrm), 4) AS norm_max
        |FROM (
        |  SELECT SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    LEN(LIST_FILTER(embedding, x -> ISNAN(x))) > 0 AS has_nan
        |  FROM embeddings)""".stripMargin,
    "sim_ann_ivfpq" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.7), (2, 10, 0.6), (3, 10, 0.7), (4, 10, 0.7))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin,
    "sim_ann_pq" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.8),
        |  (1, 10, 0.8), (2, 10, 0.5), (3, 10, 0.8), (4, 10, 0.9))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin,

    "tx_token_counts" ->
      """SELECT doc_id,
        |  LENGTH(text) AS n_chars,
        |  LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x != '')) AS n_tokens_ws,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_bpe_tokenize" ->
      """WITH ws AS (
        |  SELECT LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |    x -> x != '') AS ws
        |  FROM documents),
        |wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT UNNEST(ws) AS w FROM ws) GROUP BY w),
        |pc AS (
        |  SELECT pair, SUM(n) AS c FROM (
        |    SELECT UNNEST(CASE WHEN LENGTH(w) < 2 THEN []
        |      ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(w) - 1),
        |        i -> substring(w, i, 2)) END) AS pair, n
        |    FROM wc)
        |  GROUP BY pair)
        |SELECT (SELECT substring(pair, 1, 1) || ' ' || substring(pair, 2, 1)
        |        FROM pc ORDER BY c DESC, pair LIMIT 1) AS first_merge,
        |  50 AS n_merges, TRUE AS roundtrip_ok, TRUE AS compresses,
        |  TRUE AS deterministic_ok""".stripMargin,
    "tx_release_pipeline" ->
      s"""WITH RECURSIVE $shingleCte,
        |stats AS (
        |  SELECT doc_id, LENGTH(text) AS n_chars,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\\p{L}]+'), x -> x != '') AS ws,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\\p{L}')) AS n_alpha,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[[:punct:]]')) AS n_punct
        |  FROM documents),
        |qscored AS (
        |  SELECT doc_id, n_chars, n_alpha, n_punct, LEN(ws) AS n_words,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['als','and','auf','as','be','con','dans','das','de','den','der','des','die','du','ein','eine','el','en','es','est','et','for','his','in','is','ist','it','la','las','le','les','los','mit','nicht','of','on','para','pas','por','pour','que','qui','su','that','the','to','un','una','und','une','von','was','with','y','zu'], w))) AS stop_all
        |  FROM stats),
        |qratios AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS len,
        |    CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(stop_all AS DOUBLE) / n_words ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS mwl
        |  FROM qscored),
        |keepq AS (
        |  SELECT doc_id FROM qratios
        |  WHERE ROUND(((CASE WHEN len >= 200 AND len <= 50000 THEN 1.0 ELSE LEAST(len / 200.0, 1.0) END
        |     + LEAST(alpha_ratio / 0.6, 1.0))
        |     + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 5) END)
        |     + LEAST(stop_ratio / 0.05, 1.0)
        |     + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)) / 5.0, 4) >= 0.8),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM keepq)
        |    AND b.doc_id IN (SELECT doc_id FROM keepq)
        |    AND LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |drops AS (
        |  SELECT src AS id FROM reach GROUP BY src HAVING src > MIN(dst)),
        |surv AS (
        |  SELECT doc_id FROM keepq WHERE doc_id NOT IN (SELECT id FROM drops)),
        |toks AS (
        |  SELECT d.doc_id, d.doc_id % 8 AS shard,
        |    LEN(REGEXP_EXTRACT_ALL(d.text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]')) AS n_tok
        |  FROM documents d JOIN surv USING (doc_id)),
        |cum AS (
        |  SELECT shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_end
        |  FROM toks),
        |bins AS (
        |  SELECT shard, n_tok,
        |    CAST(FLOOR((cum_end - n_tok) / 1024.0) AS BIGINT) AS bin_first,
        |    CAST(CASE WHEN n_tok > 0 THEN FLOOR((cum_end - 1) / 1024.0)
        |         ELSE FLOOR((cum_end - n_tok) / 1024.0) END AS BIGINT) AS bin_last
        |  FROM cum)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  ROUND(SUM(n_tok) / (CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) * 1024.0), 4)
        |    AS fill_ratio
        |FROM bins GROUP BY shard ORDER BY shard""".stripMargin,
    "tx_chunking" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |                x -> x != '') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(LEN(ws) AS BIGINT) AS n_tok,
        |    CASE WHEN LEN(ws) = 0 THEN []
        |    ELSE LIST_TRANSFORM(
        |      GENERATE_SERIES(0, CAST(FLOOR((LEN(ws)-1)/48) AS BIGINT)),
        |      i -> ws[i*48+1 : i*48+64]) END AS chunks
        |  FROM w)
        |SELECT doc_id, n_tok,
        |  CAST(LEN(chunks) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(chunks, ch -> LEN(ch))), 0)
        |       AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id""".stripMargin,
    "tx_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_end
        |  FROM toks),
        |b AS (
        |  SELECT shard, n_tok, cum_end,
        |    CAST(FLOOR((cum_end - n_tok) / 1024.0) AS BIGINT) AS bin_first,
        |    CAST(CASE WHEN n_tok > 0 THEN FLOOR((cum_end - 1) / 1024.0)
        |         ELSE FLOOR((cum_end - n_tok) / 1024.0) END AS BIGINT) AS bin_last
        |  FROM c)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  ROUND(SUM(n_tok) / (CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) * 1024.0), 4)
        |    AS fill_ratio
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,
    "tx_bm25" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, LEN(ws) AS dl, UNNEST(ws) AS term FROM w),
        |tf AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'shuffle', 'vector')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, AVG(LEN(ws)) AS avgdl FROM w),
        |dfreq AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
        |SELECT doc_id, ROUND(SUM(s), 4) AS bm25, COUNT(*) AS n_terms_hit
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "tx_word_topk" ->
      """SELECT term, COUNT(*) AS n
        |FROM (SELECT UNNEST(LIST_FILTER(
        |        REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 40""".stripMargin,
    "tx_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(LIST_FILTER(
        |    REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
        |probs AS (
        |  SELECT term, n / (SELECT SUM(n) FROM freq) AS p FROM freq)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(-LOG2(p)), 4) AS mean_surprisal,
        |  ROUND(MAX(-LOG2(p)), 4) AS max_surprisal
        |FROM toks JOIN probs USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "tx_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN LEN(ws) >= 2
        |         THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 1), i -> ws[i] || ' ' || ws[i+1])
        |         ELSE [] END AS grams
        |  FROM w),
        |c AS (
        |  SELECT doc_id, gram, COUNT(*) AS n
        |  FROM (SELECT doc_id, UNNEST(grams) AS gram FROM g)
        |  GROUP BY doc_id, gram),
        |a AS (
        |  SELECT doc_id, SUM(n) AS total, MAX(n) AS topn,
        |         SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS dup
        |  FROM c GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(COALESCE(a.total, 0) AS BIGINT) AS n_bigrams,
        |  ROUND(COALESCE(CAST(a.topn AS DOUBLE) / a.total, 0.0), 4) AS top_bigram_frac,
        |  ROUND(COALESCE(CAST(a.dup AS DOUBLE) / a.total, 0.0), 4) AS dup_bigram_frac
        |FROM g LEFT JOIN a ON g.doc_id = a.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    "dd_line_dedup" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(w[(i*3+1):(i*3+3)], ' ') AS line
        |  FROM words, UNNEST(range(CAST(ceil(len(w)/3.0) AS BIGINT))) AS t(i)
        |  WHERE length(trim(array_to_string(w[(i*3+1):(i*3+3)], ' '))) > 0),
        |hot AS (SELECT line FROM chunks GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT c.doc_id,
        |  COUNT(*) AS n_lines,
        |  COUNT(h.line) AS n_dup_lines,
        |  CAST(CASE WHEN COUNT(*) - COUNT(h.line) = 0 THEN 0
        |       ELSE SUM(CASE WHEN h.line IS NULL THEN LENGTH(c.line) ELSE 0 END)
        |            + COUNT(*) - COUNT(h.line) - 1 END AS BIGINT) AS clean_len
        |FROM chunks c LEFT JOIN hot h USING (line)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    // n_docs oracle-derived; automaton fields are deterministic goldens
    // (fixed corpus, exact integer byte arithmetic)
    "tx_repeated_span" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  24 AS max_longest,
        |  CAST(6023 AS BIGINT) AS sum_longest,
        |  CAST(0.9768 AS DOUBLE) AS avg_distinct_ratio,
        |  CAST(274 AS BIGINT) AS n_repetitive
        |FROM documents""".stripMargin,
    "dd_substring_contain" ->
      """SELECT a.doc_id AS inner_id, b.doc_id AS outer_id
        |FROM documents a JOIN documents b
        |  ON a.doc_id <> b.doc_id
        | AND length(a.text) >= 39 AND length(b.text) >= 39
        | AND length(a.text) < length(b.text)
        | AND contains(b.text, a.text)
        |ORDER BY inner_id, outer_id""".stripMargin,
    "dd_jaccard_cross" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    "tx_relative_quality" ->
      """WITH thr AS (
        |  SELECT lang, QUANTILE_CONT(n_chars, 0.25) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, n_docs,
        |  CAST(COUNT(*) FILTER (n_chars >= t) AS BIGINT) AS n_kept,
        |  ROUND(t, 2) AS p25_chars
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |GROUP BY d.lang, n_docs, t ORDER BY d.lang""".stripMargin,
    "tx_upsample_mix" ->
      """WITH copies AS (
        |  SELECT source, doc_id,
        |    CAST(FLOOR(w) AS BIGINT) +
        |    CASE WHEN ((((doc_id % 2147483648) * 1103515245 + 12345)
        |                % 2147483648) * 1103515245 + 12345) % 2147483648
        |              < CAST(FLOOR((w - FLOOR(w)) * 2147483648) AS BIGINT)
        |         THEN 1 ELSE 0 END AS n
        |  FROM (SELECT source, doc_id,
        |          CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |               WHEN 'src2' THEN 0.4 ELSE 0.0 END AS w
        |        FROM documents))
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_out,
        |  CAST(COUNT(*) FILTER (n > 0) AS BIGINT) AS n_docs_kept,
        |  CAST(MAX(n) - 1 AS INT) AS max_copy
        |FROM copies WHERE n > 0 GROUP BY source ORDER BY source""".stripMargin,
    "tx_vocab_growth" ->
      """WITH ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT CAST(doc_id // 50 AS INT) AS bucket, t.tok
        |  FROM ws,
        |    UNNEST(CASE WHEN LEN(ws) < 3
        |             THEN CASE WHEN LEN(ws) > 0
        |                  THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |             ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |           END) AS t(tok)),
        |fs AS (SELECT tok, MIN(bucket) AS bucket FROM toks GROUP BY 1)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_tokens,
        |  CAST(SUM(COUNT(*)) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab,
        |  TRUE AS est_ok
        |FROM fs GROUP BY bucket ORDER BY bucket""".stripMargin,
    "tx_curation_pipeline" ->
      """WITH RECURSIVE thr AS (
        |  SELECT lang, QUANTILE_CONT(n_chars, 0.25) AS t
        |  FROM documents GROUP BY lang),
        |filtered AS (
        |  SELECT d.doc_id, d.source, d.text
        |  FROM documents d JOIN thr ON d.lang = thr.lang
        |  WHERE n_chars >= t),
        |ranked AS (
        |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY ((((doc_id + 1013904223) % 2147483647) * 48271
        |      % 2147483647) * 48271) % 2147483647, doc_id) AS rk
        |  FROM filtered),
        |capped AS (SELECT doc_id, text FROM ranked WHERE rk <= 10),
        |ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM capped),
        |sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM ws),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, a FROM edges
        |  UNION SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clusters AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
        |lab AS (
        |  SELECT doc_id,
        |    CASE WHEN xs < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xs < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT c.doc_id,
        |      ((((rep % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xs
        |    FROM (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS rep
        |          FROM capped d LEFT JOIN clusters cl ON d.doc_id = cl.id) c))
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM lab GROUP BY split ORDER BY split""".stripMargin,
    "tx_quality_drift" ->
      """WITH binned AS (
        |  SELECT source, doc_id < 250 AS h0,
        |    CAST(LEAST(7, FLOOR(n_chars / 100)) AS INT) AS bin
        |  FROM documents),
        |cnt AS (
        |  SELECT source, bin,
        |    COUNT(*) FILTER (h0) AS c0, COUNT(*) FILTER (NOT h0) AS c1
        |  FROM binned GROUP BY source, bin),
        |tot AS (
        |  SELECT source, CAST(SUM(c0) AS BIGINT) AS t0,
        |    CAST(SUM(c1) AS BIGINT) AS t1
        |  FROM cnt GROUP BY source)
        |SELECT c.source, t0 AS n_baseline, t1 AS n_compare,
        |  ROUND(CAST(SUM(ABS(c0 * t1 - c1 * t0)) AS DOUBLE)
        |    / (2.0 * t0 * t1), 6) AS tvd
        |FROM cnt c JOIN tot t ON c.source = t.source
        |GROUP BY c.source, t0, t1 ORDER BY c.source""".stripMargin,
    "q_domain_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ((((doc_id + 1013904223) % 2147483647) * 48271 % 2147483647)
        |        * 48271) % 2147483647, doc_id) AS rk
        |  FROM documents),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |        FROM documents GROUP BY 1)
        |SELECT t.source, n_docs, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
        |  CAST(MIN(doc_id) AS BIGINT) AS kept_id_min
        |FROM ranked r JOIN tot t ON r.source = t.source
        |WHERE rk <= 10
        |GROUP BY t.source, n_docs ORDER BY t.source""".stripMargin,
    "dd_rendezvous_shard" ->
      """WITH a AS (
        |  SELECT doc_id, s,
        |    MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM documents, UNNEST(GENERATE_SERIES(0, 8)) AS t(s)),
        |w8 AS (SELECT doc_id, ARG_MAX(s, h) AS shard8 FROM a WHERE s < 8 GROUP BY doc_id),
        |w9 AS (SELECT doc_id, ARG_MAX(s, h) AS shard9 FROM a GROUP BY doc_id)
        |SELECT shard8, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS BIGINT) AS moved,
        |  CAST(MIN(CASE WHEN shard9 = shard8 OR shard9 = 8 THEN 1 ELSE 0 END) AS BOOLEAN)
        |    AS moves_only_to_new
        |FROM w8 JOIN w9 USING (doc_id)
        |GROUP BY shard8 ORDER BY shard8""".stripMargin,
    // the xxh64 assignment is not DuckDB-replayable; the oracle pins the
    // hash-independent invariants the Spark side computes exactly
    "dd_rendezvous_fast" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS bad_moves, TRUE AS move_frac_ok,
        |  TRUE AS all_shards_used, TRUE AS balance_ok
        |FROM documents""".stripMargin,
    "dd_leakage_split" ->
      """WITH RECURSIVE ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM ws),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, a FROM edges
        |  UNION SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clusters AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
        |lab AS (
        |  SELECT doc_id,
        |    CASE WHEN xn < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xn < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS naive,
        |    CASE WHEN xs < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xs < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS safe
        |  FROM (
        |    SELECT doc_id,
        |      ((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xn,
        |      ((((rep % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xs
        |    FROM (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
        |          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id))),
        |audit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
        |    CAST(COALESCE(COUNT(*) FILTER (l1.naive <> l2.naive), 0) AS BIGINT)
        |      AS naive_cross_pairs,
        |    CAST(COALESCE(COUNT(*) FILTER (l1.safe <> l2.safe), 0) AS BIGINT)
        |      AS safe_cross_pairs
        |  FROM pairs JOIN lab l1 ON id1 = l1.doc_id
        |             JOIN lab l2 ON id2 = l2.doc_id)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        |  n_dup_pairs, naive_cross_pairs, safe_cross_pairs,
        |  safe_cross_pairs = 0 AS no_leakage,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'train') AS BIGINT) FROM lab) AS n_train,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'val') AS BIGINT) FROM lab) AS n_val,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'test') AS BIGINT) FROM lab) AS n_test
        |FROM audit""".stripMargin,
    "dd_incremental_snapshot" ->
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' updated marker'
        |         ELSE text END AS text
        |  FROM documents),
        |delta AS (
        |  SELECT a.doc_id, a.text
        |  FROM v2 a LEFT JOIN v1 b ON a.doc_id = b.doc_id
        |  WHERE b.doc_id IS NULL OR a.text <> b.text),
        |shd AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (SELECT doc_id,
        |          LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |            x -> x != '') AS ws
        |        FROM delta)),
        |shv AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (SELECT doc_id,
        |          LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |            x -> x != '') AS ws
        |        FROM v1)),
        |pairs AS (
        |  SELECT d.doc_id AS a_id, v.doc_id AS b_id
        |  FROM shd d JOIN shv v ON d.doc_id <> v.doc_id
        |  WHERE LEN(d.sh) > 0 AND LEN(v.sh) > 0
        |    AND CAST(LEN(LIST_INTERSECT(d.sh, v.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(d.sh, v.sh))) >= 0.3)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta) AS n_delta,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta WHERE doc_id % 7 = 0)
        |    AS n_added,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta
        |   WHERE doc_id % 7 <> 0) AS n_changed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_dup_pairs,
        |  (SELECT CAST(COUNT(DISTINCT a_id) AS BIGINT) FROM pairs) AS n_delta_dup,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta)
        |    - (SELECT CAST(COUNT(DISTINCT a_id) AS BIGINT) FROM pairs)
        |    AS n_delta_clean""".stripMargin,
    "dd_jaccard_join" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3
        |ORDER BY id1, id2""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CASE WHEN LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    THEN CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))
        |    ELSE 0.0 END, 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY id1""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_exact_distinct_users" ->
      "SELECT COUNT(DISTINCT user_id) AS exact_users FROM events",
    "q_approx_percentiles" ->
      "SELECT TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok",
    "q_gk_quantile_reagg" ->
      "SELECT TRUE AS p50_ok, TRUE AS p90_ok",
    "q_exact_users_by_type" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_revenue_by_nation" ->
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, rk, o_orderkey""".stripMargin,
    "q_top20_orders" ->
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_zorder_layout" -> {
      // the Morton interleave, expanded term-by-term for DuckDB: bit i of x
      // lands at 2i, bit i of y at 2i+1 (matches Layout.zValue for n=2)
      val zExpr = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH pts AS (
         |  SELECT o_custkey & 65535 AS x,
         |         CAST(FLOOR(o_totalprice) AS BIGINT) & 65535 AS y
         |  FROM orders),
         |keyed AS (SELECT x, y, ($zExpr) >> 27 AS zb, x >> 6 AS sb FROM pts),
         |zs AS (
         |  SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
         |    ROUND(AVG(xs) / 65536.0, 4) AS avg_x_span,
         |    ROUND(AVG(ys) / 65536.0, 4) AS avg_y_span
         |  FROM (SELECT zb, MAX(x) - MIN(x) + 1 AS xs, MAX(y) - MIN(y) + 1 AS ys
         |        FROM keyed GROUP BY zb)),
         |ss AS (
         |  SELECT 'custkey_sorted' AS layout, COUNT(*) AS n_buckets,
         |    ROUND(AVG(xs) / 65536.0, 4) AS avg_x_span,
         |    ROUND(AVG(ys) / 65536.0, 4) AS avg_y_span
         |  FROM (SELECT sb, MAX(x) - MIN(x) + 1 AS xs, MAX(y) - MIN(y) + 1 AS ys
         |        FROM keyed GROUP BY sb))
         |SELECT * FROM zs UNION ALL SELECT * FROM ss ORDER BY layout""".stripMargin
    },
    "q_range_window" ->
      """SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(o_totalprice) OVER w, 2) AS nearby_revenue,
        |  COUNT(*) OVER w AS nearby_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |  RANGE BETWEEN 432000 PRECEDING AND 432000 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_cust_order_existence" ->
      """SELECT * FROM (
        |  SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |) ORDER BY bucket""".stripMargin,
    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_salted_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the salted join must be indistinguishable from the plain join
    // (l_quantity is integral, so the BIGINT cast of the sum is exact)
    "q_salted_join" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_size_estimate" ->
      """SELECT COUNT(*) AS exact_rows, TRUE AS est_ok
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_upsert_orders" ->
      """WITH delta AS (
        |  SELECT * REPLACE (FLOOR(o_totalprice * 110) / 100 AS o_totalprice)
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY o_orderdate DESC, src DESC) AS rn
        |    FROM (SELECT *, 0 AS src FROM orders
        |          UNION ALL SELECT *, 1 AS src FROM delta))
        |  WHERE rn = 1)
        |SELECT COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price,
        |  COUNT(*) FILTER (o_orderkey % 10 = 0) AS n_updated
        |FROM merged""".stripMargin,
    "q_snapshot_diff" ->
      """WITH after0 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN FLOOR(o_totalprice * 110) / 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 = 7),
        |af AS (SELECT * FROM after0 WHERE o_orderkey % 17 != 3),
        |j AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |              WHEN a.o_orderkey IS NULL THEN 'removed'
        |              WHEN b.o_totalprice = a.o_totalprice THEN 'unchanged'
        |              ELSE 'changed' END AS change
        |  FROM orders b FULL OUTER JOIN af a ON b.o_orderkey = a.o_orderkey)
        |SELECT change, COUNT(*) AS n_keys FROM j
        |GROUP BY change ORDER BY change""".stripMargin,
    "q_scd2" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr
        |  FROM orders),
        |hist AS (
        |  SELECT k, st, pr, 1 AS version FROM base
        |  UNION ALL
        |  SELECT k, st,
        |    CASE WHEN k % 10 = 0 THEN pr + 100.0 ELSE pr END, 2 FROM base
        |  UNION ALL
        |  SELECT k,
        |    CASE WHEN k % 100 = 0 THEN 'X' ELSE st END,
        |    CASE WHEN k % 10 = 0 THEN pr + 100.0 ELSE pr END, 3 FROM base),
        |chg AS (
        |  SELECT *,
        |    COALESCE(LAG(st) OVER w IS DISTINCT FROM st
        |             OR LAG(pr) OVER w IS DISTINCT FROM pr
        |             OR LAG(version) OVER w IS NULL, TRUE) AS is_chg
        |  FROM hist WINDOW w AS (PARTITION BY k ORDER BY version)),
        |pts AS (
        |  SELECT k, version AS valid_from,
        |    LEAD(version) OVER (PARTITION BY k ORDER BY version) AS valid_to
        |  FROM chg WHERE is_chg)
        |SELECT valid_from, COALESCE(valid_to, 0) AS valid_to,
        |  (valid_to IS NULL) AS is_current, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pts GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,
    "q_profile_deep" ->
      """SELECT 'o_orderpriority' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_orderpriority) AS n_nulls,
        |  CAST(MIN(o_orderpriority) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_orderpriority) AS VARCHAR) AS max_s,
        |  TRUE AS distinct_ok,
        |  'n/a' AS p25_ok, 'n/a' AS p50_ok, 'n/a' AS p75_ok,
        |  (SELECT o_orderpriority FROM orders GROUP BY 1
        |   ORDER BY COUNT(*) DESC, 1 ASC LIMIT 1) AS top_value,
        |  (SELECT CAST(COUNT(*) AS VARCHAR) FROM orders GROUP BY o_orderpriority
        |   ORDER BY COUNT(*) DESC, o_orderpriority ASC LIMIT 1) AS top_n
        |FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |  COUNT(*) - COUNT(o_orderstatus),
        |  CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR),
        |  TRUE, 'n/a', 'n/a', 'n/a',
        |  (SELECT o_orderstatus FROM orders GROUP BY 1
        |   ORDER BY COUNT(*) DESC, 1 ASC LIMIT 1),
        |  (SELECT CAST(COUNT(*) AS VARCHAR) FROM orders GROUP BY o_orderstatus
        |   ORDER BY COUNT(*) DESC, o_orderstatus ASC LIMIT 1)
        |FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*),
        |  COUNT(*) - COUNT(o_totalprice),
        |  CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR),
        |  TRUE, CAST(TRUE AS VARCHAR), CAST(TRUE AS VARCHAR), CAST(TRUE AS VARCHAR),
        |  'n/a', 'n/a'
        |FROM orders
        |ORDER BY col_name""".stripMargin,
    "q_profile_orders" ->
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_custkey) AS VARCHAR) AS max_s, TRUE AS distinct_ok
        |FROM orders
        |UNION ALL SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        |  CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR), TRUE
        |FROM orders
        |UNION ALL SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
        |  CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR), TRUE
        |FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |  MIN(o_orderstatus), MAX(o_orderstatus), TRUE FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        |  CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR), TRUE
        |FROM orders
        |ORDER BY col_name""".stripMargin,
    "q_profile_exact" ->
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_custkey) AS VARCHAR) AS max_s,
        |  CAST(NULL AS BIGINT) AS n_distinct
        |FROM orders
        |UNION ALL SELECT 'o_orderpriority', COUNT(*),
        |  COUNT(*) - COUNT(o_orderpriority),
        |  MIN(o_orderpriority), MAX(o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority) FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |  COUNT(*) - COUNT(o_orderstatus),
        |  MIN(o_orderstatus), MAX(o_orderstatus),
        |  COUNT(DISTINCT o_orderstatus) FROM orders
        |ORDER BY col_name""".stripMargin,
    "q_ntile_lead" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    NTILE(10) OVER w AS decile,
        |    ROUND(LEAD(c_acctbal, 1) OVER w - c_acctbal, 2) AS gap
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
        |SELECT c_mktsegment, decile, COUNT(*) AS n,
        |  ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi,
        |  ROUND(AVG(gap), 3) AS avg_gap
        |FROM r GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin,
    "q_correlated_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT ROUND(MAX(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_price,
        |  (SELECT ROUND(AVG(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS avg_price
        |FROM customer
        |WHERE (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |      >= 2 * (SELECT AVG(o_totalprice) FROM orders
        |              WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price
        |FROM lineitem WHERE l_quantity > 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // html_to_text replayed as a regex/REPLACE chain over the SAME page
    // construction (escape & and < first, wrap in skeleton, strip scripts/
    // styles/comments/tags, decode entities with &amp; last, collapse ASCII
    // whitespace) — full-string equality via the hash compare
    "tx_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc</title><style type="text/css">p { color: #333; }</style></head><body><!-- id '
        |    || CAST(doc_id AS VARCHAR) || ' --><h1>' || source || '</h1>' || CHR(10) || '<p>'
        |    || REPLACE(REPLACE(text, '&', '&amp;'), '<', '&lt;')
        |    || '</p><script type="text/javascript">var n = 1 < 2 && "</p>";</script><div>&quot;fin&quot;&nbsp;&#8212;&nbsp;ok</div></body></html>'
        |      AS html
        |  FROM documents),
        |strip AS (
        |  SELECT doc_id,
        |    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(html,
        |      '<script[^>]*>.*?</script>', ' ', 'gs'),
        |      '<style[^>]*>.*?</style>', ' ', 'gs'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]*>', ' ', 'g') AS t
        |  FROM h),
        |dec AS (
        |  SELECT doc_id,
        |    REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(t,
        |      '&#8212;', CHR(8212)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&apos;', CHR(39)), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM strip)
        |SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(t, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS extracted
        |FROM dec ORDER BY doc_id""".stripMargin,
    "tx_html_metadata" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' — ' || source
        |    || '</title></head><body><h1>Doc</h1><h2>part one</h2>'
        |    || REPEAT('<a href="/x">link</a>', CAST(doc_id % 4 + 1 AS INT))
        |    || '<p>' || REPLACE(REPLACE(text, '&', '&amp;'), '<', '&lt;')
        |    || '</p><h3>notes</h3></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(
        |    REGEXP_EXTRACT(html, '(?s)<title[^>]*>(.*?)</title>', 1),
        |    '[ \t\n\r\f\x0B]+', ' ', 'g')) AS title,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(html, '<a\s')) AS INT) AS n_links,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(html, '<h[1-6][\s>]')) AS INT) AS n_headings
        |FROM h ORDER BY doc_id""".stripMargin,
    // independent Unicode implementation: DuckDB's nfc_normalize + the same
    // RE2 control class must produce byte-identical strings
    "tx_unicode_clean" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(
        |    NFC_NORMALIZE(text || ' Cafe' || CHR(769) || ' ' || CHR(8491)
        |                  || ' over' || CHR(2) || 'flow' || CHR(7) || ' A' || CHR(778)),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS r0
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'click' AND r0 = 1
        |                     THEN 1 ELSE 0 END) OVER w AS r1
        |  FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |s3 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'purchase' AND r1 = 1
        |                     THEN 1 ELSE 0 END) OVER w AS r2
        |  FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |pu AS (SELECT user_id, MAX(r0) AS r0, MAX(r1) AS r1, MAX(r2) AS r2
        |       FROM s3 GROUP BY user_id)
        |SELECT 0 AS stage_idx, 'view' AS stage,
        |  CAST(SUM(r0) AS BIGINT) AS n_users FROM pu
        |UNION ALL SELECT 1, 'click', CAST(SUM(r1) AS BIGINT) FROM pu
        |UNION ALL SELECT 2, 'purchase', CAST(SUM(r2) AS BIGINT) FROM pu
        |ORDER BY stage_idx""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |z AS (
        |  SELECT event_type, day, n,
        |    ROUND((n - AVG(n) OVER w) / STDDEV_SAMP(n) OVER w, 4) AS zscore
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, zscore,
        |  COALESCE(zscore > 2.5, FALSE) AS is_spike
        |FROM z ORDER BY event_type, day""".stripMargin,
    "q_gapfill" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |         CAST(MAX(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |grid AS (
        |  SELECT p.priority, s.day
        |  FROM spine s
        |  CROSS JOIN (SELECT DISTINCT o_orderpriority AS priority FROM orders) p)
        |SELECT g.priority, strftime(g.day, '%Y-%m-%d') AS day,
        |  COALESCE(d.n_orders, 0) AS n_orders,
        |  COALESCE(LAST_VALUE(d.revenue IGNORE NULLS) OVER (
        |    PARTITION BY g.priority ORDER BY g.day), 0.0) AS revenue_ff,
        |  (d.day IS NULL) AS is_filled
        |FROM grid g LEFT JOIN daily d ON g.priority = d.priority AND g.day = d.day
        |ORDER BY 1, 2""".stripMargin,
    "q_recursive_cte" ->
      """WITH RECURSIVE months(m, mx) AS (
        |  SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE),
        |         CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE)
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months WHERE m < mx
        |)
        |SELECT strftime(m, '%Y-%m') AS month,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
        |  COALESCE(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |                      AS DOUBLE), 2), 0.0) AS revenue
        |FROM months LEFT JOIN orders
        |  ON CAST(DATE_TRUNC('month', o_orderdate) AS DATE) = m
        |GROUP BY m ORDER BY month""".stripMargin,
    "q_notin_nulls" ->
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                           WHERE o_orderstatus <> 'P'))
        |    AS n_not_in_clean,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (
        |     SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
        |                 ELSE o_custkey END
        |     FROM orders)) AS n_not_in_with_nulls,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (
        |     SELECT 1 FROM orders o
        |     WHERE o.o_orderstatus <> 'P'
        |       AND o.o_custkey = c.c_custkey)) AS n_not_exists""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_rollup_order_status" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "hll_top_event_types" ->
      """SELECT event_type AS item, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, item LIMIT 5""".stripMargin,
    "hll_cms_event_counts" ->
      """SELECT event_type, COUNT(*) AS n_events FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q6" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q14" ->
      """SELECT
        |  ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
        |    / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-06-01'""".stripMargin,
    "q_tpch_q19" ->
      """SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_quality_checks" ->
      """SELECT * FROM (
        |  SELECT 'not_null' AS "check", 'o_custkey' AS target,
        |    CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) AS violations,
        |    COUNT(*) FILTER (o_custkey IS NULL) = 0 AS passed FROM orders
        |  UNION ALL
        |  SELECT 'in_range[0.0,1000000.0]', 'o_totalprice',
        |    CAST(COUNT(*) FILTER (o_totalprice IS NOT NULL
        |      AND o_totalprice NOT BETWEEN 0 AND 1000000) AS BIGINT),
        |    COUNT(*) FILTER (o_totalprice IS NOT NULL
        |      AND o_totalprice NOT BETWEEN 0 AND 1000000) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'one_of[F|O|P]', 'o_orderstatus',
        |    CAST(COUNT(*) FILTER (o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
        |    COUNT(*) FILTER (o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O','P')) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'matches[^[1-5]-]', 'o_orderpriority',
        |    CAST(COUNT(*) FILTER (o_orderpriority IS NOT NULL
        |      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT),
        |    COUNT(*) FILTER (o_orderpriority IS NOT NULL
        |      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        |    COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'min_rows[100]', '*',
        |    CAST(GREATEST(0, 100 - COUNT(*)) AS BIGINT),
        |    COUNT(*) >= 100 FROM orders)
        |ORDER BY "check", target""".stripMargin,
    "q_retention_cohorts" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        |f AS (SELECT user_id, MIN(w) AS cohort FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |       FROM f GROUP BY cohort),
        |m AS (
        |  SELECT f.cohort,
        |    CAST(DATEDIFF('day', f.cohort, uw.w) / 7 AS INT) AS week_offset,
        |    CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active
        |  FROM uw JOIN f ON uw.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(m.cohort, '%Y-%m-%d') AS cohort_week, week_offset,
        |  n_active, cohort_size,
        |  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention
        |FROM m JOIN sz ON m.cohort = sz.cohort
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_mom_growth" ->
      """WITH monthly AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1)
        |SELECT month, cents,
        |  COALESCE(ROUND(CAST(cents - LAG(cents) OVER (ORDER BY month)
        |    AS DOUBLE) / LAG(cents) OVER (ORDER BY month), 4), 0.0)
        |    AS mom_growth
        |FROM monthly ORDER BY month""".stripMargin,
    // full-table recompute: the equivalence oracle for the incremental path
    "q_incremental_rollup" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_lateral_topn" ->
      """SELECT n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        |FROM nation,
        |LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        |ORDER BY n_name, acctbal DESC, c_custkey""".stripMargin,
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  ROUND(SUM(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    EXTRACT(year FROM l_shipdate) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
        |      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_tpch_q8" ->
      """SELECT o_year,
        |  ROUND(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume
        |    ELSE 0.0 END) / SUM(volume), 4) AS mkt_share
        |FROM (
        |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_tpch_q2" ->
      """WITH costs AS (
        |  SELECT l_partkey AS p_partkey, p_name, l_suppkey,
        |    MIN(l_extendedprice / l_quantity * (1 - l_discount)) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  ROUND(cost, 4) AS cost
        |FROM costs
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE cost = (SELECT MIN(cost) FROM costs c2
        |              WHERE c2.p_partkey = costs.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_name LIKE '%widget%')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q_tpch_q11" ->
      """WITH per_part AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY 1)
        |SELECT p_partkey, value_cents FROM per_part
        |WHERE CAST(value_cents AS DOUBLE) >
        |  (SELECT CAST(SUM(value_cents) AS DOUBLE) FROM per_part) * 0.001
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (2, 3, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch_q20" ->
      """WITH qty96 AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'cold%')
        |  GROUP BY 1)
        |SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM qty96
        |  WHERE qty > (SELECT AVG(qty) FROM qty96) * 0.5)
        |ORDER BY s_name""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  CAST(COUNT(*) FILTER (o_orderpriority IN ('1-URGENT','2-HIGH'))
        |    AS BIGINT) AS high_line_count,
        |  CAST(COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
        |    AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, ROUND(rev, 2) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE rev = (SELECT MAX(rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q17" ->
      """SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q_tpch_q21" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_tpch_q22" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(cents) AS BIGINT) AS acct_cents
        |FROM (SELECT c_custkey, c_nationkey,
        |        CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |      FROM customer) c
        |WHERE CAST(cents AS DOUBLE) > (
        |    SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_bucketed_join" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_unpivot" ->
      """WITH a AS (
        |  SELECT o_orderstatus,
        |    ROUND(SUM(o_totalprice), 2) AS sum_price,
        |    ROUND(AVG(o_totalprice), 4) AS avg_price,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, metric, value
        |FROM (UNPIVOT a ON sum_price, avg_price, n_orders
        |      INTO NAME metric VALUE value)
        |ORDER BY o_orderstatus, metric""".stripMargin,
    "q_setops" ->
      """SELECT * FROM (
        |  SELECT 'urgent_and_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'urgent_not_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'urgent_or_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) ORDER BY bucket""".stripMargin,
    "q_partition_pruning" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_setops_all" ->
      """SELECT * FROM (
        |  SELECT 'intersect_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'except_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'union_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) ORDER BY bucket""".stripMargin,
    "q_nullsafe_join" ->
      """WITH o AS (SELECT NULLIF(o_custkey % 500, 13) AS k FROM orders),
        |c AS (SELECT NULLIF(c_custkey % 500, 13) AS ck FROM customer)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o JOIN c
        |   ON k IS NOT DISTINCT FROM ck) AS n_rows,
        |  (SELECT CAST(COUNT(*) FILTER (k IS NULL) AS BIGINT) FROM o JOIN c
        |   ON k IS NOT DISTINCT FROM ck) AS n_null_matches,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o JOIN c ON k = ck)
        |    AS n_rows_strict""".stripMargin,
    "q_argmax_median" ->
      """SELECT c_mktsegment,
        |  arg_max(c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
        |    AS top_cust,
        |  arg_min(c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
        |    AS bot_cust,
        |  median(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS med_bal,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_cube_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT o_orderkey, UPPER(SUBSTRING(o_orderpriority, 1, 3)) AS pri3,
        |  LENGTH(o_orderstatus) AS status_len,
        |  YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |  ROUND(SQRT(ABS(o_totalprice)), 4) AS sqrt_price,
        |  o_orderkey % 7 AS key_mod
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_dropdup" ->
      """SELECT o_custkey, o_orderstatus, MIN(o_orderkey) AS first_orderkey
        |FROM orders GROUP BY o_custkey, o_orderstatus
        |ORDER BY o_custkey, o_orderstatus""".stripMargin,
    "dd_exact_stats" ->
      """SELECT COUNT(DISTINCT text) AS n_distinct_texts, COUNT(*) AS n_docs,
        |  COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs FROM documents""".stripMargin,
    "dd_exact_keep" ->
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",
    "dd_bloom_unseen" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT user_id FROM events)
        |ORDER BY c_custkey""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, session_seq,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |        FROM events))
        |GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "q_range_join" ->
      """SELECT e.event_id, COUNT(*) AS n_intervals
        |FROM (SELECT event_id, user_id * 10 + 2 AS pt FROM events) e
        |JOIN (SELECT o_custkey * 10 AS lo, o_custkey * 10 + 5 AS hi FROM orders) o
        |  ON e.pt BETWEEN o.lo AND o.hi
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    "q_interval_overlap" ->
      """SELECT e.event_id, COUNT(*) AS n_overlaps
        |FROM (SELECT event_id, user_id * 10 + 2 AS elo, user_id * 10 + 8 AS ehi FROM events) e
        |JOIN (SELECT o_custkey * 10 AS olo, o_custkey * 10 + 5 AS ohi FROM orders) o
        |  ON e.elo <= o.ohi AND o.olo <= e.ehi
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, o.o_orderkey AS asof_o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_group_sample" ->
      """SELECT source, rn, doc_id FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rn
        |  FROM documents) WHERE rn <= 3
        |ORDER BY source, rn""".stripMargin,
    "q_interval_range_window" ->
      """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
        |  ROUND(SUM(o_totalprice) OVER w, 2) AS rev_trailing_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, d, n_trailing_30d""".stripMargin,
    "q_map_functions" ->
      """WITH g AS (
        |  SELECT o_orderpriority, o_orderstatus AS status,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, status, n,
        |  CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |    AS n_statuses
        |FROM g ORDER BY o_orderpriority, status""".stripMargin,
    "q_join_hints" ->
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_posexplode" ->
      """SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(partkey) AS BIGINT) AS sum_parts
        |FROM (
        |  SELECT l_orderkey, l_partkey AS partkey,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) - 1
        |      AS pos
        |  FROM lineitem)
        |GROUP BY pos ORDER BY pos""".stripMargin,
    "q_merge_schema" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) FILTER (o_orderkey % 2 = 0) AS BIGINT)
        |    AS n_missing_priority,
        |  CAST(COUNT(*) FILTER (o_orderkey % 2 = 1) AS BIGINT)
        |    AS n_with_priority
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_json_functions" ->
      """SELECT event_type,
        |  CAST(COUNT(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_parsed,
        |  CAST(MIN(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(MAX(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max,
        |  ROUND(AVG(TRY_CAST(props->>'$.k' AS BIGINT)), 4) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_tablesample" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders
        |WHERE ((((o_orderkey % 2147483648) * 1103515245 + 12345)
        |         % 2147483648) * 1103515245 + 12345) % 2147483648
        |      < 214748364
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_weighted_sample" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    LN((((doc_id * 2654435761) % 1000000007) + 1) / 1000000008.0)
        |      / n_chars AS pr
        |  FROM documents)
        |SELECT ROW_NUMBER() OVER (ORDER BY pr DESC, doc_id) AS rn,
        |  doc_id, n_chars
        |FROM r ORDER BY pr DESC, doc_id LIMIT 20""".stripMargin,
    "tx_length_histogram" ->
      """SELECT CASE WHEN n_chars >= 1000 THEN 21
        |  ELSE CAST(FLOOR(n_chars / 50.0) + 1 AS BIGINT) END AS bucket,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "mm_image_features" ->
      """SELECT doc_id AS media_id,
        |  ((doc_id % 16) + 1) * 4 AS width,
        |  ((doc_id % 12) + 1) * 4 AS height,
        |  3 AS channels
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_video_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS hashes_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_audio_features" ->
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS pcm_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_audio_resample" ->
      """SELECT doc_id AS media_id, 16000 AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  (((doc_id % 25) + 1) * 200 * 16000) // (8000 * ((doc_id % 3) + 1))
        |    AS n_frames,
        |  TRUE AS pcm_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_image_resize" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN GREATEST(w, h) <= 16 THEN w
        |       ELSE GREATEST(1, w * 16 // GREATEST(w, h)) END AS width,
        |  CASE WHEN GREATEST(w, h) <= 16 THEN h
        |       ELSE GREATEST(1, h * 16 // GREATEST(w, h)) END AS height,
        |  3 AS channels
        |FROM (SELECT doc_id, ((doc_id % 16) + 1) * 4 AS w,
        |             ((doc_id % 12) + 1) * 4 AS h
        |      FROM documents) ORDER BY media_id""".stripMargin,
    "mm_flac_features" ->
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity
        |FROM documents ORDER BY media_id""".stripMargin,
    "tx_warc_ingest" ->
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS http_status,
        |  strlen(text) AS content_length
        |FROM documents ORDER BY url""".stripMargin,
    "tx_warc_curation" ->
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  LENGTH(text) AS n_chars,
        |  LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x != '')) AS n_tokens_ws
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY url""".stripMargin,
    "tx_tar_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size
        |FROM documents ORDER BY name""".stripMargin,
    // the xz container metadata + listing replayed: check by aid%4, the
    // member payloads pinned through md5 against the source text
    "tx_tarxz_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'crc32'
        |    WHEN 2 THEN 'crc64' ELSE 'sha256' END AS check_type,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the lz4 lane replayed: container by aid%2 (modern frame / kernel
    // legacy), member payloads pinned through md5 against the source text
    "tx_tarlz4_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  CASE WHEN (doc_id // 16) % 2 = 0 THEN 'frame' ELSE 'legacy' END AS container,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the 7z lane replayed: coder by aid%3, member payloads pinned
    // through md5 against the source text
    "tx_7z_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 3 WHEN 0 THEN 'copy' WHEN 1 THEN 'lzma'
        |    ELSE 'lzma2' END AS coder,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the tar.Z lane replayed: fixed block-mode 16-bit framing, member
    // payloads pinned through md5
    "tx_tarz_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  CAST(16 AS BIGINT) AS max_bits,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the xar lane replayed: member payloads pinned through md5
    "tx_xar_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the iso lane replayed: member payloads pinned through md5
    "tx_iso_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the cpio lane replayed: format by aid%3, member payloads pinned
    // through md5 against the source text
    "tx_cpio_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 3 WHEN 0 THEN 'newc' WHEN 1 THEN 'crc'
        |    ELSE 'odc' END AS format,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // the deb lane replayed: control fields + data compression by
    // aid%4, member payloads pinned through md5 against the source text
    "tx_deb_packages" ->
      """SELECT 'corpus-' || (doc_id // 16) AS package,
        |  '1.' || (doc_id // 16) || '-1' AS version,
        |  CASE (doc_id // 16) % 4 WHEN 0 THEN 'xz' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'zstd' ELSE 'none' END AS compression,
        |  'usr/share/doc/corpus-' || (doc_id // 16) || '/' || source ||
        |    '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    "tx_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'HTTP://Corpus.INVALID:80/' || source || '/' || doc_id || '?b=2&a=1#frag'
        |    WHEN 1 THEN 'https://CORPUS.invalid:443/' || source || '/' || doc_id
        |    WHEN 2 THEN 'http://corpus.invalid/' || source || '/' || doc_id || '?utm_source=feed&utm_medium=rss'
        |    WHEN 3 THEN 'http://corpus.invalid:8080/' || source || '/' || doc_id || '%2fx'
        |    WHEN 4 THEN 'http://corpus.invalid#top'
        |    ELSE 'http://User:Pw@Corpus.Invalid/' || doc_id || '?fbclid=abc&z=9&a&a=0#x'
        |  END AS url_raw,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'http://corpus.invalid/' || source || '/' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'https://corpus.invalid/' || source || '/' || doc_id
        |    WHEN 2 THEN 'http://corpus.invalid/' || source || '/' || doc_id
        |    WHEN 3 THEN 'http://corpus.invalid:8080/' || source || '/' || doc_id || '%2Fx'
        |    WHEN 4 THEN 'http://corpus.invalid/'
        |    ELSE 'http://User:Pw@corpus.invalid/' || doc_id || '?a&a=0&z=9'
        |  END AS url_canonical
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_warc_cdx" ->
      """SELECT doc_id // 16 AS archive_id,
        |  1 + 2 * count(*) AS n_records,
        |  count(*) AS n_responses,
        |  TRUE AS slices_ok
        |FROM documents GROUP BY 1 ORDER BY archive_id""".stripMargin,
    "tx_zip_members" ->
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  CASE WHEN (doc_id // 16) % 2 = 1 THEN 'deflate' ELSE 'store' END AS method,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin,
    // robots verdicts by construction: even hosts use the graftbot group
    // (allow unless /private/ non-open or *.tmp), odd hosts have no
    // graftbot group so the * group applies (deny /files/ except *.txt$);
    // source parity == doc_id parity since source = 'src' || doc_id % 20
    "tx_robots_gate" ->
      """SELECT doc_id, source,
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/public/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    WHEN 3 THEN '/files/' || doc_id || '.tmp'
        |    ELSE '/files/' || doc_id || '.txt'
        |  END AS path,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 IN (0, 2, 4)
        |       ELSE doc_id % 5 != 3 END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_frontier_shard" ->
      """WITH u AS (
        |  SELECT doc_id, 'src' || (doc_id % 20) || '.invalid' AS host FROM documents),
        |hs AS (
        |  SELECT host, COUNT(*) AS n_urls FROM u GROUP BY host),
        |a AS (
        |  SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM hs, UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, h) AS fetcher FROM a GROUP BY host)
        |SELECT fetcher, CAST(SUM(n_urls) AS BIGINT) AS n_urls, COUNT(*) AS n_hosts,
        |  MIN(host) AS host_min
        |FROM hs JOIN w USING (host)
        |GROUP BY fetcher ORDER BY fetcher""".stripMargin,
    // scheduler replay: per-host stalest-first ordering, delay spacing
    // (graftbot 2s on even hosts, * fallback 0.5s on odd), md5 HRW
    "tx_fetch_schedule" ->
      """WITH u AS (
        |  SELECT doc_id, 'src' || (doc_id % 20) || '.invalid' AS host,
        |    (doc_id % 28) + 1 AS lastmod_day,
        |    CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 0.5 END AS delay_s
        |  FROM documents),
        |a AS (
        |  SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM (SELECT DISTINCT host FROM u), UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, h) AS fetcher FROM a GROUP BY host),
        |r AS (
        |  SELECT doc_id, host, lastmod_day, delay_s,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY lastmod_day, doc_id)
        |      AS position
        |  FROM u)
        |SELECT r.doc_id, r.host, w.fetcher, CAST(r.position AS INT) AS position,
        |  (r.position - 1) * r.delay_s AS offset_s
        |FROM r JOIN w USING (host) ORDER BY r.doc_id""".stripMargin,
    "tx_sitemap_frontier" ->
      """SELECT * FROM (
        |  SELECT 'url' AS kind,
        |    'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id AS loc_canonical,
        |    '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS lastmod
        |  FROM documents
        |  UNION ALL
        |  SELECT DISTINCT 'sitemap',
        |    'http://src' || (doc_id % 20) || '.invalid/sitemap.xml.gz',
        |    CAST(NULL AS VARCHAR)
        |  FROM documents
        |) ORDER BY loc_canonical""".stripMargin,
    // the refine capstone replayed end to end: canonical URL, charset,
    // clean flag, robots verdict (host parity == doc parity), text md5
    "tx_warc_refine" ->
      """SELECT doc_id,
        |  'http://src' || (doc_id % 20) || '.invalid' ||
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/public/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    WHEN 3 THEN '/files/' || doc_id || '.tmp'
        |    ELSE '/files/' || doc_id || '.txt'
        |  END || '?a=1&b=2' AS url_canonical,
        |  CASE doc_id % 5 WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'iso-8859-1'
        |    WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  doc_id % 5 != 4 AS clean,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 IN (0, 2, 4)
        |       ELSE doc_id % 5 != 3 END AS allowed,
        |  CASE WHEN doc_id % 5 = 4 THEN md5(text || '€' || chr(129))
        |    ELSE md5(text) END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_metadata" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  ((doc_id % 16) + 1) * 4 AS width,
        |  ((doc_id % 12) + 1) * 4 AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 8 END AS bit_depth,
        |  CASE WHEN doc_id % 2 = 1 THEN 1 + doc_id % 8 END AS orientation,
        |  CASE WHEN doc_id % 2 = 0 THEN source || '/' || doc_id END AS text_source,
        |  CASE WHEN doc_id % 2 = 1 THEN 'doc ' || doc_id END AS description
        |FROM documents ORDER BY media_id""".stripMargin,
    // chain replay by construction: %6==0 docs hop through %6==1 to the
    // %6==3 final two ids on; targets past max(doc_id) dangle
    "tx_redirect_resolve" ->
      """WITH m AS (SELECT MAX(doc_id) AS mx FROM documents)
        |SELECT doc_id, 'http://c.invalid/' || doc_id AS url,
        |  CASE doc_id % 6
        |    WHEN 0 THEN CASE WHEN doc_id + 3 > mx THEN 'dangling' ELSE 'resolved' END
        |    WHEN 1 THEN CASE WHEN doc_id + 2 > mx THEN 'dangling' ELSE 'resolved' END
        |    WHEN 2 THEN 'loop'
        |    WHEN 5 THEN 'dangling'
        |    ELSE 'final' END AS status,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'http://c.invalid/' ||
        |      (CASE WHEN doc_id + 1 > mx THEN doc_id + 1 ELSE doc_id + 3 END)
        |    WHEN 1 THEN 'http://c.invalid/' || (doc_id + 2)
        |    WHEN 2 THEN NULL
        |    WHEN 5 THEN 'http://gone.invalid/' || doc_id
        |    ELSE 'http://c.invalid/' || doc_id END AS resolved_url,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN CASE WHEN doc_id + 1 > mx THEN 1 ELSE 2 END
        |    WHEN 1 THEN 1
        |    WHEN 2 THEN NULL
        |    WHEN 5 THEN 1
        |    ELSE 0 END AS BIGINT) AS hops
        |FROM documents, m ORDER BY doc_id""".stripMargin,
    // the windows-1252 fallback decodes the appended 0x80 0x81 to the
    // euro sign and U+0081 (WHATWG table); everything else round-trips
    "tx_charset_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'iso-8859-1'
        |    WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  doc_id % 5 != 4 AS clean,
        |  CASE WHEN doc_id % 5 = 4 THEN md5(text || '€' || chr(129))
        |    ELSE md5(text) END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx_warc_wet" ->
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  'conversion' AS warc_type,
        |  strlen(text) AS text_len,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY url""".stripMargin,
    // every kept link of every page, predicted from the watPage arithmetic:
    // positions 1-7 are (d+1 same host, d+2 sibling via <base>, 3d+5
    // cross-host normalized, d+3 unquoted+entity with sorted query, 7d+3
    // cross-host, d+11 https cross-host, d+4 dot-segment dir)
    "tx_warc_wat" ->
      """WITH d AS (SELECT doc_id, doc_id % 20 AS k FROM documents)
        |SELECT doc_id, position, dst_url FROM (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS position,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 1) AS dst_url FROM d
        |  UNION ALL SELECT doc_id, 2,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 2) || '.html' FROM d
        |  UNION ALL SELECT doc_id, 3,
        |    'http://src' || ((3 * doc_id + 5) % 20) || '.invalid/page/' ||
        |    (3 * doc_id + 5) || '?a=1&b=2' FROM d
        |  UNION ALL SELECT doc_id, 4,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 3) || '?y=2&z=1' FROM d
        |  UNION ALL SELECT doc_id, 5,
        |    'http://src' || ((7 * doc_id + 3) % 20) || '.invalid/page/' ||
        |    (7 * doc_id + 3) FROM d
        |  UNION ALL SELECT doc_id, 6,
        |    'https://src' || ((doc_id + 11) % 20) || '.invalid/page/' ||
        |    (doc_id + 11) FROM d
        |  UNION ALL SELECT doc_id, 7,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 4) || '/' FROM d
        |) ORDER BY doc_id, position""".stripMargin,
    // change counts from the mutation rule: e in 1..4 with (d+e)%3==0 —
    // two epochs for d%3==2 (e=1,4), one otherwise
    "tx_recrawl_rate" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS changed_count,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 500 ELSE 250 END AS BIGINT) AS change_permille,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT) AS interval_days
        |FROM documents ORDER BY doc_id""".stripMargin,
    // both signals replayed from arithmetic (change interval from the
    // id%3 mutation rule, lastmod day from id%28), then the join, the
    // priority division, and the per-site stalest-first window
    "tx_recrawl_priority" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS changed_count,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT) AS interval_days,
        |    CAST((doc_id % 28) + 1 AS BIGINT) AS lastmod_day
        |  FROM documents),
        |q AS (SELECT doc_id, source, lastmod_day,
        |    CAST(28 - lastmod_day AS BIGINT) AS age_days,
        |    changed_count, interval_days,
        |    CAST((28 - lastmod_day) * 1000 // interval_days AS BIGINT)
        |      AS priority_permille,
        |    (28 - lastmod_day) >= interval_days AS due
        |  FROM d)
        |SELECT doc_id, source, lastmod_day, age_days, changed_count,
        |  interval_days, priority_permille, due,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY priority_permille DESC, doc_id ASC) AS BIGINT) AS position
        |FROM q ORDER BY doc_id""".stripMargin,
    // revisit verdicts replayed from the epoch rules: %5==4 never in the
    // prev index -> new; %3==0 amended body (+3 bytes) -> response; else
    // unchanged -> revisit with 0 stored bytes and the prior record id
    "tx_warc_revisit" ->
      """SELECT doc_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  CASE WHEN doc_id % 5 = 4 THEN 'new'
        |       WHEN doc_id % 3 = 0 THEN 'response'
        |       ELSE 'revisit' END AS verdict,
        |  CASE WHEN doc_id % 5 <> 4 AND doc_id % 3 <> 0
        |       THEN '<urn:graft:resp:' || doc_id || '>' END AS refers_to,
        |  CASE WHEN doc_id % 5 <> 4 AND doc_id % 3 <> 0 THEN 0
        |       WHEN doc_id % 3 = 0 THEN strlen(text) + 3
        |       ELSE strlen(text) END AS stored_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the growth capstone replayed arithmetically: the 7 links per page
    // with known-set membership (only the bare cross-host pos-5 link can
    // be an existing doc), the numeric-suffix robots verdicts, the md5
    // HRW fetcher — all from doc_id
    "tx_frontier_growth" ->
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, d + 1 AS id, TRUE AS bare, FALSE AS known FROM d
        |  UNION ALL SELECT k, d + 2, FALSE, FALSE FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, 3 * d + 5, TRUE, FALSE FROM d
        |  UNION ALL SELECT k, d + 3, TRUE, FALSE FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20, 7 * d + 3, TRUE,
        |    7 * d + 3 IN (SELECT doc_id FROM documents) FROM d
        |  UNION ALL SELECT (d + 11) % 20, d + 11, TRUE, FALSE FROM d
        |  UNION ALL SELECT k, d + 4, FALSE, FALSE FROM d),
        |agg AS (
        |  SELECT 'src' || h || '.invalid' AS host,
        |    COUNT(*) AS n_new,
        |    CAST(SUM(CASE WHEN NOT bare THEN 1
        |                  WHEN h % 2 = 0 AND id % 10 = 0 THEN 0
        |                  WHEN h % 2 = 1 AND id % 10 = 5 THEN 0
        |                  ELSE 1 END) AS BIGINT) AS n_allowed
        |  FROM links WHERE NOT known GROUP BY h),
        |a AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |      FROM (SELECT DISTINCT host FROM agg),
        |        UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM a GROUP BY host)
        |SELECT agg.host, w.fetcher, agg.n_new, agg.n_allowed
        |FROM agg JOIN w USING (host) ORDER BY agg.host""".stripMargin,
    // the host graph from the watPage cross-host rules (k -> (3k+5)%20,
    // (7k+3)%20, (k+11)%20; same-host links collapse to filtered
    // self-loops), then the 3 integer rank iterations unrolled — DuckDB's
    // `//` and Spark's `div` agree exactly on the positive ranks
    "tx_link_rank" ->
      """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |idg AS (SELECT dst, COUNT(*) AS in_deg FROM e GROUP BY dst),
        |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
        |       FROM n LEFT JOIN c1 ON c1.host = n.host),
        |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
        |       FROM n LEFT JOIN c2 ON c2.host = n.host),
        |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
        |       FROM n LEFT JOIN c3 ON c3.host = n.host)
        |SELECT n.host, COALESCE(deg.out_deg, 0) AS out_deg,
        |  COALESCE(idg.in_deg, 0) AS in_deg, r3.rank
        |FROM n LEFT JOIN deg ON deg.src = n.host
        |  LEFT JOIN idg ON idg.dst = n.host
        |  JOIN r3 ON r3.host = n.host
        |ORDER BY n.host""".stripMargin,
    // the EXACT warm-path replay for the incremental ranker: 8 cold
    // iterations on the OLD graph (3 watPage families) -> that terminal
    // vector seeds w0 over the MERGED graph (families + the k%5==0 ->
    // k+13 adds, MINUS the k%4==0 -> k+11 removals, replaying
    // mergeEdges' anti-join) -> 6 warm iterations. Bit-equality with the
    // Spark run holds at any horizon because both sides run the same
    // integer map from the same start — no convergence assumption needed
    "tx_link_rank_delta" ->
      ("""WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS MATERIALIZED (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |n AS MATERIALIZED (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |""".stripMargin + rankIterCtes(1, 8) + """,
        |em0 AS (
        |  SELECT s, t FROM e0
        |  UNION SELECT k, (k + 13) % 20 FROM ks WHERE k % 5 = 0),
        |rm AS (SELECT k AS s, (k + 11) % 20 AS t FROM ks WHERE k % 4 = 0),
        |em AS MATERIALIZED (
        |  SELECT 'src' || s || '.invalid' AS src,
        |         'src' || t || '.invalid' AS dst
        |  FROM (SELECT s, t FROM em0 WHERE s <> t
        |        EXCEPT SELECT s, t FROM rm)),
        |degm AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM em GROUP BY src),
        |idgm AS (SELECT dst, COUNT(*) AS in_deg FROM em GROUP BY dst),
        |nm AS MATERIALIZED (SELECT src AS host FROM em UNION SELECT dst FROM em),
        |w0 AS (SELECT nm.host, COALESCE(r8.rank, CAST(1000000 AS BIGINT)) AS rank
        |       FROM nm LEFT JOIN r8 ON r8.host = nm.host),
        |""".stripMargin + rankIterCtes(1, 6, g = "m", rp = "w") + """
        |SELECT nm.host, COALESCE(degm.out_deg, 0) AS out_deg,
        |  COALESCE(idgm.in_deg, 0) AS in_deg, w6.rank
        |FROM nm LEFT JOIN degm ON degm.src = nm.host
        |  LEFT JOIN idgm ON idgm.dst = nm.host
        |  JOIN w6 ON w6.host = nm.host
        |ORDER BY nm.host""".stripMargin),
    // the anchor labels are constant per link position; hosts follow the
    // watPage cross-host arithmetic — the per-host label set and counts
    // replay from doc_id alone
    "tx_anchor_text" ->
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, 'next' AS txt FROM d
        |  UNION ALL SELECT k, 'sibling' FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, 'cross one' FROM d
        |  UNION ALL SELECT k, 'unquoted' FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20, 'cross two' FROM d
        |  UNION ALL SELECT (d + 11) % 20, 'cross three' FROM d
        |  UNION ALL SELECT k, 'dots' FROM d),
        |agg1 AS (SELECT h, COUNT(*) AS n_links FROM links GROUP BY h),
        |agg2 AS (SELECT h, COUNT(*) AS n_texts,
        |           string_agg(txt, '|' ORDER BY txt) AS texts
        |         FROM (SELECT DISTINCT h, txt FROM links) GROUP BY h)
        |SELECT 'src' || h || '.invalid' AS host, n_links, n_texts, texts
        |FROM agg1 JOIN agg2 USING (h) ORDER BY host""".stripMargin,
    // six blocks per page, all measurements doc_id arithmetic: nav divs
    // bad (link density 866/1000), headings short then promoted by their
    // good paragraph neighbor, k-word paragraphs good — the oracle
    // rebuilds the EXACT extracted text, not just the counts
    "tx_boilerplate" ->
      """WITH d AS (SELECT doc_id, 20 + doc_id % 7 AS k FROM documents)
        |SELECT doc_id,
        |  CAST(6 AS BIGINT) AS n_blocks,
        |  CAST(2 AS BIGINT) AS n_good_ctx,
        |  CAST(2 AS BIGINT) AS n_short_ctx,
        |  CAST(2 AS BIGINT) AS n_bad_ctx,
        |  CAST(4 AS BIGINT) AS n_good_final,
        |  CAST(2 * strlen('hdr ' || doc_id) + 4 + 2 * (6 * k - 1) AS BIGINT)
        |    AS main_chars,
        |  'hdr ' || doc_id || ' 1' || chr(10) || trim(repeat('lorem ', k)) ||
        |    chr(10) || 'hdr ' || doc_id || ' 4' || chr(10) ||
        |    trim(repeat('ipsum ', k)) AS main_text
        |FROM d ORDER BY doc_id""".stripMargin,
    // full jusText replayed: eight blocks whose stopword densities are
    // word arithmetic (600 / 200 / 0 permille, h1 at 333, h2 at 0) —
    // kept text = h1 + article + the promoted near_good paragraph
    "tx_boilerplate_stop" ->
      """WITH d AS (SELECT doc_id, 10 + doc_id % 5 AS k, 8 + doc_id % 3 AS k2
        |           FROM documents),
        |t2 AS (SELECT doc_id,
        |    'On widget reviews' || chr(10) ||
        |    rtrim(repeat('the cat and the dog ', k)) || chr(10) ||
        |    rtrim(repeat('green tea is fine here ', k2)) AS main_text,
        |    CAST(17 + (20 * k - 1) + (23 * k2 - 1) AS BIGINT) AS main_chars
        |  FROM d)
        |SELECT doc_id,
        |  CAST(8 AS BIGINT) AS n_blocks,
        |  CAST(1 AS BIGINT) AS n_good_ctx,
        |  CAST(2 AS BIGINT) AS n_near_ctx,
        |  CAST(1 AS BIGINT) AS n_short_ctx,
        |  CAST(4 AS BIGINT) AS n_bad_ctx,
        |  CAST(3 AS BIGINT) AS n_good_final,
        |  main_chars, main_text
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // the Bloom prune must not change the exact anti-join: n_new per host
    // is the same arithmetic as tx_frontier_growth's (only the bare pos-5
    // cross link can hit the known set)
    "tx_frontier_bloom" ->
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, FALSE AS known FROM d
        |  UNION ALL SELECT k, FALSE FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, FALSE FROM d
        |  UNION ALL SELECT k, FALSE FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20,
        |    7 * d + 3 IN (SELECT doc_id FROM documents) FROM d
        |  UNION ALL SELECT (d + 11) % 20, FALSE FROM d
        |  UNION ALL SELECT k, FALSE FROM d)
        |SELECT 'src' || h || '.invalid' AS host, COUNT(*) AS n_new
        |FROM links WHERE NOT known GROUP BY h ORDER BY host""".stripMargin,
    // mirror groups from the residue rule: docs with doc_id%97 < 50 share
    // content within their residue class; hosts are doc_id%20 so every
    // multi-member class spans hosts; singletons (residue >= 50) never
    // survive the n_hosts filter
    "tx_mirror_hosts" ->
      """SELECT MIN(doc_id) AS group_id, COUNT(*) AS n_copies,
        |  CAST(COUNT(DISTINCT doc_id % 20) AS BIGINT) AS n_hosts,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |GROUP BY CASE WHEN doc_id % 97 < 50 THEN doc_id % 97 ELSE doc_id END
        |HAVING CAST(COUNT(DISTINCT doc_id % 20) AS BIGINT) >= 2
        |ORDER BY group_id""".stripMargin,
    // the planted near-mirror pair set is pure k-arithmetic: per content
    // group g, roles 0/1 are exact (hamming 0), role 2 is near (the
    // selected word lands at hamming 1-3, DedupSpec-pinned), role 3 never
    // flags; pair order is binary-string order (LEAST/GREATEST), matching
    // Spark's UTF8 id1 < id2
    "tx_mirror_near" ->
      """WITH gs AS (SELECT DISTINCT (doc_id % 20) % 5 AS g FROM documents),
        |raw AS (
        |  SELECT 'src' || g || '.invalid' AS a,
        |         'src' || (g + 5) || '.invalid' AS b, TRUE AS exact FROM gs
        |  UNION ALL SELECT 'src' || g || '.invalid',
        |         'src' || (g + 10) || '.invalid', FALSE FROM gs
        |  UNION ALL SELECT 'src' || (g + 5) || '.invalid',
        |         'src' || (g + 10) || '.invalid', FALSE FROM gs)
        |SELECT LEAST(a, b) AS id1, GREATEST(a, b) AS id2, exact
        |FROM raw ORDER BY id1, id2""".stripMargin,
    // the watPage link arithmetic restricted to follow-allowed docs
    // (id%4 not in (1,2) — nofollow and none pages contribute nothing)
    "tx_frontier_nofollow" ->
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents
        |           WHERE doc_id % 4 NOT IN (1, 2)),
        |links AS (
        |  SELECT k AS h FROM d
        |  UNION ALL SELECT k FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20 FROM d
        |  UNION ALL SELECT k FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20 FROM d
        |  UNION ALL SELECT (d + 11) % 20 FROM d
        |  UNION ALL SELECT k FROM d)
        |SELECT 'src' || h || '.invalid' AS host, COUNT(*) AS n_links
        |FROM links GROUP BY h ORDER BY host""".stripMargin,
    // canonical clusters from the metaPage rules: id%3==0 pages of the
    // same id%50 class share a canonical (id%10 is determined by id%50),
    // singletons dropped by the HAVING
    "tx_canonical_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |      '.invalid/canon/' || (doc_id % 50)
        |    ELSE 'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id
        |    END AS dedup_url
        |  FROM documents)
        |SELECT dedup_url, COUNT(*) AS n_pages, MIN(doc_id) AS id_min,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM d GROUP BY dedup_url HAVING COUNT(*) >= 2
        |ORDER BY dedup_url""".stripMargin,
    // every on-page signal from the metaPage rules: decoded em dash in
    // the title, robots rotation on id%4 (none implies both), canonical
    // rebased onto the base host for id%3==0
    "tx_meta_gate" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' — title' AS title,
        |  'summary ' || doc_id || ' & more' AS description,
        |  CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |    '.invalid/canon/' || (doc_id % 50) END AS canonical,
        |  doc_id % 4 = 0 OR doc_id % 4 = 2 AS noindex,
        |  doc_id % 4 = 1 OR doc_id % 4 = 2 AS nofollow,
        |  COALESCE(
        |    CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |      '.invalid/canon/' || (doc_id % 50) END,
        |    'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id)
        |    AS dedup_url
        |FROM documents ORDER BY doc_id""".stripMargin,
    // canonical election replayed with ARG_MIN over url strings (both
    // engines compare UTF-8 bytes); the mirror groups are the doc_id%97
    // residue rule
    "tx_warc_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 < 50 THEN doc_id % 97 ELSE doc_id END AS g,
        |    'http://src' || (doc_id % 20) || '.invalid/doc/' || doc_id AS url
        |  FROM documents),
        |c AS (SELECT g, ARG_MIN(doc_id, url) AS cid FROM d GROUP BY g)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id = c.cid THEN 'response' ELSE 'revisit' END AS verdict,
        |  CASE WHEN d.doc_id <> c.cid THEN c.cid END AS refers_to_doc,
        |  d.doc_id = c.cid AS stores_body
        |FROM d JOIN c USING (g) ORDER BY d.doc_id""".stripMargin,
    // the 300-page apportionment (as tx_crawl_plan's) capped by the
    // declared Crawl-Delay: delay 1+k%5, capacity 60 // delay
    "tx_budget_capacity" ->
      (budgetCappedCtes +
        """
        |SELECT host, alloc, delay_s, 60 // delay_s AS capacity,
        |  LEAST(alloc, 60 // delay_s) AS effective,
        |  alloc - LEAST(alloc, 60 // delay_s) AS spill
        |FROM capped ORDER BY host""".stripMargin),
    // the replan round on top of the capacity cap: redistribute
    // redis = least(sum(spill), sum(headroom)) by largest remainder over
    // per-shard headroom sums, then cumulative rounding weighted by
    // headroom within each shard — every division integer, every window
    // deterministic (host asc / rem desc, shard asc)
    "tx_budget_replan" ->
      (budgetCappedCtes +
        """,
        |eff AS (SELECT host,
        |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard,
        |    alloc, 60 // delay_s AS capacity,
        |    LEAST(alloc, 60 // delay_s) AS effective,
        |    (60 // delay_s) - LEAST(alloc, 60 // delay_s) AS headroom,
        |    alloc - LEAST(alloc, 60 // delay_s) AS spill
        |  FROM capped),
        |tot AS (SELECT CAST(SUM(spill) AS BIGINT) AS spill_total,
        |    CAST(SUM(headroom) AS BIGINT) AS head_total,
        |    LEAST(CAST(SUM(spill) AS BIGINT), CAST(SUM(headroom) AS BIGINT))
        |      AS redis
        |  FROM eff),
        |shh AS (SELECT shard, CAST(SUM(headroom) AS BIGINT) AS hs
        |  FROM eff GROUP BY shard),
        |sb2 AS (SELECT shard, hs, redis,
        |    CASE WHEN head_total = 0 THEN 0 ELSE redis * hs // head_total END AS base,
        |    CASE WHEN head_total = 0 THEN 0 ELSE (redis * hs) % head_total END AS rem
        |  FROM shh, tot),
        |lo2 AS (SELECT CAST(MAX(redis) - SUM(base) AS BIGINT) AS leftover FROM sb2),
        |bs2 AS (SELECT shard, hs,
        |    CASE WHEN hs = 0 THEN 0 ELSE base +
        |      CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |        <= leftover THEN 1 ELSE 0 END END AS bs
        |  FROM sb2, lo2),
        |cum2 AS (SELECT eff.host, eff.shard, eff.alloc, eff.capacity,
        |    eff.effective, eff.spill, eff.headroom, bs2.bs, bs2.hs,
        |    CAST(SUM(eff.headroom) OVER (PARTITION BY eff.shard
        |      ORDER BY eff.host) AS BIGINT) AS ch
        |  FROM eff JOIN bs2 USING (shard)),
        |fin AS (SELECT host, shard, alloc, capacity, effective, spill,
        |    CASE WHEN hs = 0 THEN 0
        |      ELSE (bs * ch // hs) - (bs * (ch - headroom) // hs) END AS bonus
        |  FROM cum2)
        |SELECT host, shard, alloc, capacity, effective, spill, bonus,
        |  effective + bonus AS final_alloc
        |FROM fin ORDER BY host""".stripMargin),
    // the whole epoch plan replayed: rank iterations (as tx_link_rank),
    // 300-page apportionment (as tx_crawl_budget), stalest-first
    // selection under the per-host cap (row_number with the same
    // DESC/ASC tiebreak), membership pinned by id_sum, fetcher by the
    // md5-argmax HRW
    "tx_crawl_plan" ->
      """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
        |       FROM n LEFT JOIN c1 ON c1.host = n.host),
        |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
        |       FROM n LEFT JOIN c2 ON c2.host = n.host),
        |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
        |       FROM n LEFT JOIN c3 ON c3.host = n.host),
        |ranked AS (SELECT host, rank,
        |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard
        |  FROM r3),
        |sw AS (SELECT shard, CAST(SUM(rank) AS BIGINT) AS ws
        |       FROM ranked GROUP BY shard),
        |g AS (SELECT CAST(SUM(ws) AS BIGINT) AS w FROM sw),
        |sb AS (SELECT shard, ws, 300 * ws // w AS base,
        |         (300 * ws) % w AS rem FROM sw, g),
        |lo AS (SELECT CAST(300 - SUM(base) AS BIGINT) AS leftover FROM sb),
        |rkd AS (SELECT shard, ws, base +
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |      <= leftover THEN 1 ELSE 0 END AS bs
        |  FROM sb, lo),
        |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
        |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
        |      ORDER BY ranked.host) AS BIGINT) AS cw
        |  FROM ranked JOIN rkd USING (shard)),
        |budget AS (SELECT host, rank,
        |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |  FROM cum),
        |urls AS (SELECT doc_id, doc_id % 20 AS k, doc_id % 5 AS staleness
        |         FROM documents),
        |rn AS (SELECT doc_id, k, staleness, ROW_NUMBER() OVER
        |    (PARTITION BY k ORDER BY staleness DESC, doc_id ASC) AS rn
        |  FROM urls),
        |sel AS (SELECT rn.k, rn.doc_id, rn.staleness, b.rank, b.alloc
        |  FROM rn JOIN budget b ON b.host = 'src' || rn.k || '.invalid'
        |  WHERE rn.rn <= b.alloc),
        |agg AS (SELECT k, MAX(rank) AS rank, MAX(alloc) AS alloc,
        |    COUNT(*) AS n_selected, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |    MAX(staleness) AS stalest
        |  FROM sel GROUP BY k),
        |hrw AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |  FROM (SELECT DISTINCT 'src' || k || '.invalid' AS host FROM agg),
        |    UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |f AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM hrw GROUP BY host)
        |SELECT 'src' || agg.k || '.invalid' AS host, agg.rank, agg.alloc,
        |  agg.n_selected, agg.id_sum, agg.stalest, f.fetcher
        |FROM agg JOIN f ON f.host = 'src' || agg.k || '.invalid'
        |ORDER BY host""".stripMargin,
    // the change-aware epoch plan replayed end-to-end: the same rank +
    // 300-page apportionment as tx_crawl_plan, but selection keyed by
    // age×1000 // interval (interval from the id%3 mutation rule as
    // tx_recrawl_rate, lastmod day from id%28 as tx_recrawl_priority) —
    // membership pinned by id_sum, fast-changer preference by n_fast
    "tx_fetch_order" ->
      """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
        |       FROM n LEFT JOIN c1 ON c1.host = n.host),
        |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
        |       FROM n LEFT JOIN c2 ON c2.host = n.host),
        |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
        |       FROM n LEFT JOIN c3 ON c3.host = n.host),
        |ranked AS (SELECT host, rank,
        |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard
        |  FROM r3),
        |sw AS (SELECT shard, CAST(SUM(rank) AS BIGINT) AS ws
        |       FROM ranked GROUP BY shard),
        |g AS (SELECT CAST(SUM(ws) AS BIGINT) AS w FROM sw),
        |sb AS (SELECT shard, ws, 300 * ws // w AS base,
        |         (300 * ws) % w AS rem FROM sw, g),
        |lo AS (SELECT CAST(300 - SUM(base) AS BIGINT) AS leftover FROM sb),
        |rkd AS (SELECT shard, ws, base +
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |      <= leftover THEN 1 ELSE 0 END AS bs
        |  FROM sb, lo),
        |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
        |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
        |      ORDER BY ranked.host) AS BIGINT) AS cw
        |  FROM ranked JOIN rkd USING (shard)),
        |budget AS (SELECT host, rank,
        |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |  FROM cum),
        |urls AS (SELECT doc_id, doc_id % 20 AS k,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT)
        |      AS interval_days,
        |    CAST((doc_id % 28) + 1 AS BIGINT) AS lastmod_day
        |  FROM documents),
        |q AS (SELECT doc_id, k, interval_days,
        |    CAST(28 - lastmod_day AS BIGINT) AS age_days,
        |    CAST((28 - lastmod_day) * 1000 // interval_days AS BIGINT)
        |      AS priority_permille,
        |    (28 - lastmod_day) >= interval_days AS due
        |  FROM urls),
        |rn AS (SELECT q.*, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY priority_permille DESC, doc_id ASC) AS rn FROM q),
        |sel AS (SELECT rn.k, rn.doc_id, rn.priority_permille, rn.due,
        |    rn.interval_days, b.rank, b.alloc
        |  FROM rn JOIN budget b ON b.host = 'src' || rn.k || '.invalid'
        |  WHERE rn.rn <= b.alloc),
        |agg AS (SELECT k, MAX(rank) AS rank, MAX(alloc) AS alloc,
        |    COUNT(*) AS n_selected, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |    MAX(priority_permille) AS top_priority,
        |    CAST(SUM(CASE WHEN due THEN 1 ELSE 0 END) AS BIGINT) AS n_due,
        |    CAST(SUM(CASE WHEN interval_days = 9 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_fast
        |  FROM sel GROUP BY k),
        |hrw AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |  FROM (SELECT DISTINCT 'src' || k || '.invalid' AS host FROM agg),
        |    UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |f AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM hrw GROUP BY host)
        |SELECT 'src' || agg.k || '.invalid' AS host, agg.rank, agg.alloc,
        |  agg.n_selected, agg.id_sum, agg.top_priority, agg.n_due, agg.n_fast,
        |  f.fetcher
        |FROM agg JOIN f ON f.host = 'src' || agg.k || '.invalid'
        |ORDER BY host""".stripMargin,
    // the capstone replayed end-to-end from doc_id: charset from the
    // id%3 wire encoding (every variant decodes clean), boilerplate
    // verdicts from the block rules (h1 carries ' café': +5 chars, +1
    // token), tokens = words of the four kept blocks
    "tx_warc_maintext" ->
      """WITH d AS (SELECT doc_id, 20 + doc_id % 7 AS k FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |  TRUE AS clean,
        |  CAST(6 AS BIGINT) AS n_blocks,
        |  CAST(4 AS BIGINT) AS n_good_final,
        |  CAST(2 * strlen('hdr ' || doc_id) + 9 + 2 * (6 * k - 1) AS BIGINT)
        |    AS main_chars,
        |  CAST(2 * k + 7 AS BIGINT) AS n_tokens
        |FROM d ORDER BY doc_id""".stripMargin,
    // the PDF roundtrip replayed from doc_id arithmetic: page count
    // 1 + id%3, every page's exact two-line text (WinAnsi café, the
    // 0x80-0x9F typographic block — smart quotes + em dash — and escaped
    // parens all survive the writer->parser trip byte-for-byte)
    "tx_pdf_text" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |t2 AS (SELECT doc_id, n_pages, page_idx,
        |    'Doc ' || doc_id || ' page ' || page_idx || ' ‘café’' || chr(10) ||
        |    'tokens ' || (doc_id % 7) || ' — (p' || page_idx || ')' AS text
        |  FROM p)
        |SELECT doc_id, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(page_idx AS BIGINT) AS page_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, page_idx""".stripMargin,
    // the transfer-decode seam replayed: token by id%5 (both deflate
    // variants surface the same header token), decoded text and its BYTE
    // length from the payload template, the brotli rows diverted with the
    // named reject and their raw (= plain-text) bytes kept
    "tx_content_encoding" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n,
        |    CASE doc_id % 9 WHEN 0 THEN 'gzip' WHEN 1 THEN 'deflate'
        |      WHEN 2 THEN 'deflate' WHEN 3 THEN '' WHEN 4 THEN 'bzip2'
        |      WHEN 6 THEN 'xz' WHEN 7 THEN 'lz4' WHEN 8 THEN 'compress'
        |      ELSE 'br' END AS encoding
        |  FROM documents),
        |t2 AS (SELECT doc_id, encoding,
        |    repeat('payload ' || doc_id || ' café' || chr(10), CAST(n AS INT))
        |      AS text
        |  FROM d)
        |SELECT doc_id, encoding,
        |  doc_id % 9 <> 5 AS clean,
        |  CASE WHEN doc_id % 9 = 5
        |    THEN 'http: unsupported content-encoding ''br'''
        |    ELSE '' END AS reason,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  text
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // host health replayed from the rotation rule: status class from
    // q = (id div 20 + id%20) % 10, error permille exact-integer, the
    // backoff doubling and the capacity division both replayed
    "tx_host_health" ->
      """WITH f AS (SELECT doc_id, doc_id % 20 AS k,
        |    ((doc_id // 20) + (doc_id % 20)) % 10 AS q FROM documents),
        |a AS (SELECT k, COUNT(*) AS n_fetches,
        |    CAST(SUM(CASE WHEN q <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_2xx,
        |    CAST(SUM(CASE WHEN q = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_3xx,
        |    CAST(SUM(CASE WHEN q = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_4xx,
        |    CAST(SUM(CASE WHEN q >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_5xx
        |  FROM f GROUP BY k),
        |b AS (SELECT k, n_fetches, n_2xx, n_3xx, n_4xx, n_5xx,
        |    (n_4xx + n_5xx) * 1000 // n_fetches AS error_permille,
        |    1 + k % 5 AS delay_s FROM a),
        |c AS (SELECT *, error_permille >= 300 AS backoff,
        |    CASE WHEN error_permille >= 300 THEN delay_s * 2
        |         ELSE delay_s END AS eff FROM b)
        |SELECT 'src' || k || '.invalid' AS host, n_fetches, n_2xx, n_3xx,
        |  n_4xx, n_5xx, error_permille, backoff,
        |  CAST(delay_s AS BIGINT) AS delay_s,
        |  CAST(eff AS BIGINT) AS effective_delay_s,
        |  CAST(3600 // eff AS BIGINT) AS capacity
        |FROM c ORDER BY host""".stripMargin,
    // /Info provenance replayed from the templates: both text-string
    // encodings (UTF-16BE titles, PDFDocEncoding authors) decode back to
    // the same strings DuckDB concatenates
    "tx_pdf_meta" ->
      """SELECT doc_id,
        |  'Report ' || doc_id || ' — ‘résumé’ №' || (doc_id % 100) AS title,
        |  'Author ' || (doc_id % 7) || ' (unit…)' AS author,
        |  'graft 1.0' AS producer,
        |  'D:2026010' || (1 + doc_id % 9) || '000000Z' AS created,
        |  TRUE AS no_subject
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the divert seam: id%5==0 carries /Encrypt — probe keeps the label,
    // drops the page count, flips decodable; extract names the reject
    // the wikitext cleanup replayed line-exactly by id arithmetic
    "tx_wiki_dump" ->
      """WITH d AS (SELECT doc_id,
        |    'Article ' || doc_id || ' is about subject ' || (doc_id % 7) ||
        |      '.' || chr(10) ||
        |    'Body of article ' || doc_id || ' links Plain ' ||
        |      (doc_id % 5) || ' and notes café.' || chr(10) ||
        |    'Section ' || (doc_id % 3) || chr(10) ||
        |    'Final line ' || doc_id || ' — done.' AS text
        |  FROM documents)
        |SELECT doc_id, 'Article ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END AS INTEGER) AS ns,
        |  CASE WHEN doc_id % 10 = 9 THEN 'Talk' ELSE '' END AS ns_name,
        |  'User' || (doc_id % 7) AS username, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    // the multistream-index audit replayed: pages group 4-per-stream in
    // doc_id order within each 16-page shard, so stream rank and batch
    // size are pure arithmetic; n_chars reuses the dump lane's text
    "tx_wiki_index" ->
      """WITH d AS (SELECT doc_id, doc_id // 16 AS archive_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |      - 1 AS rnk,
        |    COUNT(*) OVER (PARTITION BY doc_id // 16) AS n,
        |    'Article ' || doc_id || ' is about subject ' || (doc_id % 7) ||
        |      '.' || chr(10) ||
        |    'Body of article ' || doc_id || ' links Plain ' ||
        |      (doc_id % 5) || ' and notes café.' || chr(10) ||
        |    'Section ' || (doc_id % 3) || chr(10) ||
        |    'Final line ' || doc_id || ' — done.' AS text
        |  FROM documents)
        |SELECT doc_id, archive_id,
        |  CAST(rnk // 4 AS BIGINT) AS stream_rank,
        |  CAST(LEAST(4, n - 4 * (rnk // 4)) AS BIGINT) AS batch_size,
        |  'Article ' || doc_id AS title,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  TRUE AS ranged_ok
        |FROM d ORDER BY doc_id""".stripMargin,
    // the chain walk replayed: id%4==1 one hop, id%4==3 two hops
    // (through the id-2 redirect), missing targets dangle — directly at
    // hop 1 for id%20==5, via the chain at hop 2 for id%20==7
    "tx_wiki_redirects" ->
      """SELECT doc_id, 'Article ' || doc_id AS title,
        |  CASE
        |    WHEN doc_id % 20 = 5 THEN 'dangling'
        |    WHEN doc_id % 4 = 3 AND doc_id % 20 = 7 THEN 'dangling'
        |    WHEN doc_id % 4 IN (1, 3) THEN 'resolved'
        |    ELSE 'final' END AS status,
        |  CASE
        |    WHEN doc_id % 20 = 5 THEN 'Missing ' || doc_id
        |    WHEN doc_id % 4 = 3 AND doc_id % 20 = 7
        |      THEN 'Missing ' || (doc_id - 2)
        |    WHEN doc_id % 4 = 1 THEN 'Article ' || (doc_id - 1)
        |    WHEN doc_id % 4 = 3 THEN 'Article ' || (doc_id - 3)
        |    ELSE 'Article ' || doc_id END AS resolved_title,
        |  CAST(CASE
        |    WHEN doc_id % 20 = 5 THEN 1
        |    WHEN doc_id % 4 = 1 THEN 1
        |    WHEN doc_id % 4 = 3 THEN 2
        |    ELSE 0 END AS BIGINT) AS hops
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the attachment walk replayed: filename/container by id%4, the
    // shared extraction template's LENGTH, the cover note exact
    "tx_mail_attachments" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
        |      WHEN 2 THEN 'rtf' ELSE 'xls' END AS ext
        |  FROM documents)
        |SELECT doc_id,
        |  'doc' || doc_id || '.' || ext AS filename,
        |  ext AS container,
        |  'Cover note ' || doc_id AS cover,
        |  CAST(LENGTH('Attached doc ' || doc_id || ' — café ' ||
        |    (doc_id % 9)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    // the PPT record walk replayed: per-slide text by arithmetic (the
    // wide-char lane only changes the ATOM type, never the text)
    "tx_ppt_text" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_slides FROM documents),
        |sl AS (SELECT doc_id, n_slides,
        |    UNNEST(GENERATE_SERIES(0, n_slides - 1)) AS slide_idx FROM d),
        |t2 AS (SELECT doc_id, n_slides, slide_idx,
        |    'Slide ' || slide_idx || ' of ' || doc_id || chr(10) ||
        |    'Bullet ' || (doc_id % 5) || ' — café' ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' 漢' ELSE '' END AS text
        |  FROM sl)
        |SELECT doc_id, CAST(n_slides AS BIGINT) AS n_slides,
        |  CAST(slide_idx AS BIGINT) AS slide_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, slide_idx""".stripMargin,
    // the BIFF8 walk replayed: four cells per sheet by arithmetic (the
    // CONTINUE-split lane changes bytes, never values)
    "tx_xls_text" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ns FROM documents),
        |sh AS (SELECT doc_id, UNNEST(GENERATE_SERIES(0, ns - 1)) AS s
        |  FROM d),
        |cells AS (
        |  SELECT doc_id, s, 0 AS row, 0 AS col,
        |    'Cell ' || doc_id || '-' || s || ' r0' AS text FROM sh
        |  UNION ALL SELECT doc_id, s, 0, 1,
        |    CAST(doc_id * 3 + s AS VARCHAR) FROM sh
        |  UNION ALL SELECT doc_id, s, 1, 0, '3.5' FROM sh
        |  UNION ALL SELECT doc_id, s, 1, 1, 'wide 日本 ' || doc_id FROM sh)
        |SELECT doc_id, CAST(s AS BIGINT) AS sheet, CAST(row AS BIGINT) AS row,
        |  CAST(col AS BIGINT) AS col, text
        |FROM cells ORDER BY doc_id, sheet, row, col""".stripMargin,
    // the FILEPASS lane replayed: handler by id%2, default-password
    // workbooks extract their exact tab/newline-joined cell text
    // (RK renders integral, NUMBER keeps the .5), every 7th stays the
    // named reject with 0 cells
    "tx_xls_encrypted" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'rc4' ELSE 'rc4capi' END AS method,
        |    doc_id % 7 = 0 AS locked,
        |    'Secret cell ' || doc_id || ' — café' || chr(9) ||
        |      (doc_id * 7) || chr(10) || 'wide 機密 ' || doc_id || chr(9) ||
        |      CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id // 2 AS VARCHAR)
        |        ELSE (doc_id // 2) || '.5' END AS text
        |  FROM documents)
        |SELECT doc_id, method,
        |  CASE WHEN locked THEN 'xls: encrypted workbook (password required)'
        |    ELSE 'ok' END AS status,
        |  CASE WHEN locked THEN CAST(0 AS BIGINT)
        |    ELSE CAST(4 AS BIGINT) END AS n_cells,
        |  CASE WHEN locked THEN '' ELSE text END AS text
        |FROM d ORDER BY doc_id""".stripMargin,
    // the modern-Office encryption lane replayed: scheme by id%2, default-
    // password documents extract their exact newline-joined paragraphs,
    // every 7th stays the named reject (message names its scheme's verifier)
    "tx_office_encrypted" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'standard' ELSE 'agile' END AS scheme,
        |    doc_id % 7 = 0 AS locked,
        |    'Protected doc ' || doc_id || ' — café' || chr(10) ||
        |      'body ' || (doc_id % 5) || ' 機密 content' AS text
        |  FROM documents)
        |SELECT doc_id, scheme,
        |  CASE WHEN NOT locked THEN 'ok'
        |    WHEN scheme = 'standard'
        |      THEN 'ooxml-crypto: password required (standard verifier mismatch)'
        |    ELSE 'ooxml-crypto: password required (agile verifier mismatch)'
        |  END AS status,
        |  CASE WHEN locked THEN CAST(0 AS BIGINT)
        |    ELSE CAST(2 AS BIGINT) END AS n_paragraphs,
        |  CASE WHEN locked THEN '' ELSE text END AS text
        |FROM d ORDER BY doc_id""".stripMargin,
    // the standard-security handler replayed: ciphers rotate by id%4,
    // every 7th doc is REALLY user-locked (the named reject with 0/0),
    // the rest decrypt with the empty password and their page text is
    // the same doc_id arithmetic every PDF oracle uses
    "tx_pdf_encrypted" ->
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4-128'
        |      WHEN 2 THEN 'aes-128' ELSE 'aes-256' END AS method,
        |    1 + doc_id % 2 AS n_pages, doc_id % 7 = 0 AS locked
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Secret doc ' || doc_id || ' page ' || page_idx ||
        |        ' ‘café’' || chr(10) || 'ciphered ' || (doc_id % 5) ||
        |        ' — (p' || page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.method,
        |  CASE WHEN d.locked THEN 'pdf: encrypted (password required)'
        |    ELSE 'ok' END AS status,
        |  CASE WHEN d.locked THEN 0 ELSE CAST(d.n_pages AS BIGINT) END AS n_pages,
        |  CASE WHEN d.locked THEN 0 ELSE CAST(c.n_chars AS BIGINT) END AS n_chars
        |FROM d JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the ToUnicode walk replayed: script by id%4, page text by exact
    // arithmetic; id%5==0 omits the CMap and stays the named reject.
    // n_chars sums PAGE lengths (the page-joining newlines subtract out)
    "tx_pdf_cjk" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS n_pages,
        |    CASE doc_id % 4 WHEN 0 THEN '漢字処理' WHEN 1 THEN '中文文本'
        |      WHEN 2 THEN '한국어 텍스트' ELSE '日本語テキスト' END AS phrase,
        |    doc_id % 5 = 0 AS nomap
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages, nomap, phrase,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS pg FROM d),
        |t AS (SELECT doc_id, n_pages, nomap,
        |    STRING_AGG('文書 ' || doc_id || ' 頁 ' || pg || ' — ' || phrase ||
        |        chr(10) || '行 ' || (doc_id % 7) || ' 内容 café (' || pg || ')',
        |      chr(10) ORDER BY pg) AS text
        |  FROM p GROUP BY doc_id, n_pages, nomap)
        |SELECT doc_id,
        |  CASE WHEN nomap THEN 'pdf: composite (Type0) font unsupported' ||
        |      ' — needs a ToUnicode CMap' ELSE 'ok' END AS status,
        |  CASE WHEN nomap THEN 0 ELSE CAST(n_pages AS BIGINT) END AS n_pages,
        |  CASE WHEN nomap THEN '' ELSE text END AS text,
        |  CASE WHEN nomap THEN 0
        |    ELSE CAST(LENGTH(text) - (n_pages - 1) AS BIGINT) END AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin,
    "tx_pdf_quarantine" ->
      """SELECT doc_id, 'pdf' AS container,
        |  CASE WHEN doc_id % 5 <> 0 THEN CAST(1 AS BIGINT) END AS n_pages,
        |  doc_id % 5 <> 0 AS decodable,
        |  CASE WHEN doc_id % 5 = 0 THEN 'pdf: encrypted (password required)'
        |    ELSE 'ok' END AS status
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the PDF WARC capstone replayed end-to-end: page counts and total
    // chars are the same doc_id arithmetic as tx_pdf_text (1 + id%3 pages,
    // each page's two fabricated lines), and every fifth document carries
    // the /Encrypt splice, so its status is the NAMED reject with 0/0
    "tx_warc_pdf" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Doc ' || doc_id || ' page ' || page_idx || ' ‘café’' ||
        |        chr(10) || 'tokens ' || (doc_id % 7) || ' — (p' || page_idx ||
        |        ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 0
        |    THEN 'pdf: encrypted (password required)' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE d.n_pages END
        |    AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE c.n_chars END
        |    AS BIGINT) AS n_chars
        |FROM d JOIN c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // the 1.5-profile roundtrip replayed: same doc_id arithmetic as
    // tx_pdf_text, new template — the writer/extractor pair guarantees
    // the bytes, DuckDB guarantees the text
    "tx_pdf_text15" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |t2 AS (SELECT doc_id, n_pages, page_idx,
        |    'Doc ' || doc_id || ' v1.5 page ' || page_idx || ' ‘€' ||
        |    (doc_id % 9) || '’' || chr(10) || 'modern ' || (doc_id % 7) ||
        |    ' (p' || page_idx || ')' AS text
        |  FROM p)
        |SELECT doc_id, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(page_idx AS BIGINT) AS page_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, page_idx""".stripMargin,
    // the filter family replayed: the cascade label from id%5 and the
    // char sum over the fabricated pages
    "tx_pdf_filters" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages,
        |    CASE doc_id % 5 WHEN 0 THEN 'LZWDecode'
        |      WHEN 1 THEN 'ASCIIHexDecode' WHEN 2 THEN 'ASCII85Decode'
        |      WHEN 3 THEN 'RunLengthDecode'
        |      ELSE 'ASCII85Decode>FlateDecode' END AS filter_chain
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages, filter_chain,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id, ANY_VALUE(filter_chain) AS filter_chain,
        |    ANY_VALUE(n_pages) AS n_pages,
        |    SUM(LENGTH('Doc ' || doc_id || ' filtered page ' || page_idx ||
        |      ' ‘…’' || chr(10) || 'chain ' || (doc_id % 5) || ' (p' ||
        |      page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT doc_id, filter_chain, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,
    // the .warc.zst ingest replayed from the body template
    "tx_warc_zstd" ->
      """WITH t2 AS (SELECT doc_id,
        |    '<html>doc ' || doc_id || ' on src' || (doc_id % 20) ||
        |    ' café ×' || (1 + doc_id % 3) || '</html>' AS text
        |  FROM documents)
        |SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // Content-Encoding zstd next to gzip and identity: every row decodes
    // clean, text and BYTE length replay from the payload template
    "tx_zstd_encoding" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n,
        |    CASE doc_id % 3 WHEN 0 THEN 'zstd' WHEN 1 THEN 'gzip'
        |      ELSE '' END AS encoding
        |  FROM documents),
        |t2 AS (SELECT doc_id, encoding,
        |    repeat('payload ' || doc_id || ' café' || chr(10), CAST(n AS INT))
        |      AS text
        |  FROM d)
        |SELECT doc_id, encoding, TRUE AS clean,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes, text
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // the modern-stack capstone replayed: 1.5/filtered page counts and
    // char sums from the new template, every fifth row the named reject
    "tx_pdf_modern" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Doc ' || doc_id || ' v1.5 page ' || page_idx ||
        |      ' ‘€' || (doc_id % 9) || '’' || chr(10) || 'modern ' ||
        |      (doc_id % 7) || ' (p' || page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 0
        |    THEN 'pdf: encrypted (password required)' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE d.n_pages END
        |    AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE c.n_chars END
        |    AS BIGINT) AS n_chars
        |FROM d JOIN c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // office roundtrip replayed: paragraphs by id%4, format by parity,
    // the writer/extractor pair guarantees the bytes, DuckDB the text
    "tx_office_text" ->
      """WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS np,
        |    CASE WHEN doc_id % 2 = 0 THEN 'docx' ELSE 'odt' END AS format
        |  FROM documents),
        |p AS (SELECT doc_id, np, format,
        |    UNNEST(GENERATE_SERIES(0, np - 1)) AS pi FROM d),
        |t2 AS (SELECT doc_id, np, format,
        |    STRING_AGG('Para ' || pi || ' doc ' || doc_id || chr(9) ||
        |      'tab ‘§' || (doc_id % 7) || '’', chr(10) ORDER BY pi) AS text
        |  FROM p GROUP BY doc_id, np, format)
        |SELECT doc_id, format, CAST(np AS BIGINT) AS n_paragraphs, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // spreadsheet/slides replayed: xlsx rows tab-joined (3 rows), pptx
    // three paragraphs, by parity
    "tx_sheet_text" ->
      """WITH t2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'xlsx' ELSE 'pptx' END AS format,
        |    3 AS n_units,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      'metric' || chr(9) || 'value' || chr(10) ||
        |      'rows doc ' || doc_id || chr(9) || (doc_id % 97) || chr(10) ||
        |      'metric' || chr(9) || (doc_id % 7)
        |    ELSE
        |      'Slide doc ' || doc_id || chr(10) || 'point ' || (doc_id % 5) ||
        |      chr(10) || 'more ‘§’' || chr(10) || 'Closing ' || (doc_id % 3)
        |    END AS text
        |  FROM documents)
        |SELECT doc_id, format, CAST(n_units AS BIGINT) AS n_units, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // document-mining replayed: container by id%8, the office family
    // shares one text template, pdf its own, OLE diverts with 0 chars
    "tx_doc_mine" ->
      """SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
        |    WHEN 2 THEN 'odt' WHEN 3 THEN 'xlsx' WHEN 4 THEN 'pptx'
        |    WHEN 5 THEN 'epub' WHEN 6 THEN 'rtf' WHEN 7 THEN 'doc'
        |    WHEN 8 THEN 'xls' ELSE 'ppt' END AS container,
        |  'ok' AS status,
        |  CAST(CASE doc_id % 10
        |    WHEN 0 THEN LENGTH('PDF doc ' || doc_id || ' — ‘§' ||
        |      (doc_id % 7) || '’')
        |    WHEN 7 THEN LENGTH('Mixed doc ' || doc_id || ' — café ' ||
        |      (doc_id % 9) || CASE WHEN (doc_id // 10) % 2 = 1
        |        THEN ' 日' ELSE '' END)
        |    ELSE LENGTH('Mixed doc ' || doc_id || ' — café ' || (doc_id % 9))
        |    END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // document-triage replayed: container by id%10 — every lane is
    // decodable now that all three legacy binaries have real extractors
    "tx_doc_probe" ->
      """SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'docx' WHEN 1 THEN 'odt'
        |    WHEN 2 THEN 'xlsx' WHEN 3 THEN 'pptx' WHEN 4 THEN 'epub'
        |    WHEN 5 THEN 'rtf' WHEN 6 THEN 'mbox' WHEN 7 THEN 'doc'
        |    WHEN 8 THEN 'xls' ELSE 'ppt' END AS container,
        |  TRUE AS decodable
        |FROM documents ORDER BY doc_id""".stripMargin,
    // book/legacy-doc replayed: epub = 2 blocks per chapter over 1+id%3
    // chapters, rtf = 1+id%4 paragraphs, text by arithmetic
    "tx_book_text" ->
      """WITH e AS (SELECT doc_id, 1 + doc_id % 3 AS nc FROM documents
        |    WHERE doc_id % 2 = 0),
        |ec AS (SELECT doc_id, nc, UNNEST(GENERATE_SERIES(0, nc - 1)) AS c
        |  FROM e),
        |et AS (SELECT doc_id, 2 * ANY_VALUE(nc) AS n_units,
        |    STRING_AGG('Chapter ' || c || ' of doc ' || doc_id || chr(10) ||
        |      'Body ' || c || ' — ‘§' || (doc_id % 7) || '’',
        |      chr(10) ORDER BY c) AS text
        |  FROM ec GROUP BY doc_id),
        |r AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents
        |    WHERE doc_id % 2 = 1),
        |rp AS (SELECT doc_id, np, UNNEST(GENERATE_SERIES(0, np - 1)) AS p
        |  FROM r),
        |rt AS (SELECT doc_id, ANY_VALUE(np) AS n_units,
        |    STRING_AGG('RTF para ' || p || ' doc ' || doc_id || ' — café ' ||
        |      (doc_id % 9), chr(10) ORDER BY p) AS text
        |  FROM rp GROUP BY doc_id),
        |u AS (SELECT doc_id, 'epub' AS format, n_units, text FROM et
        |  UNION ALL SELECT doc_id, 'rtf', n_units, text FROM rt)
        |SELECT doc_id, format, CAST(n_units AS BIGINT) AS n_units, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM u ORDER BY doc_id""".stripMargin,
    // mail mining replayed: decoded subject (the id%3 B-word rule),
    // media type / part count by the id%4 body route, exact body text
    "tx_mail_mbox" ->
      """WITH t2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Betreff ' || doc_id || ' ü'
        |      ELSE 'Subject ' || doc_id END AS subject,
        |    CASE WHEN doc_id % 4 = 3 THEN 'multipart/alternative'
        |      ELSE 'text/plain' END AS content_type,
        |    CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS n_parts,
        |    'Mail ' || doc_id || ' von Nutzer ' || (doc_id % 7) ||
        |    ' — Grüße à ' || (1 + doc_id % 3) || '€' || chr(10) ||
        |    'Zeile zwei (§' || (doc_id % 9) || ')' AS text
        |  FROM documents)
        |SELECT doc_id, subject, content_type, TRUE AS text_found,
        |  CAST(n_parts AS BIGINT) AS n_parts, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin,
    // feed discovery replayed: every known post announced, id%3==0 docs
    // add one new url each; kind by host parity
    "tx_feed_discovery" ->
      """WITH d AS (SELECT doc_id, doc_id % 20 AS k FROM documents),
        |a AS (SELECT k, COUNT(*) AS n_known,
        |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN doc_id ELSE 0 END)
        |      AS BIGINT) AS new_id_sum
        |  FROM d GROUP BY k)
        |SELECT 'src' || k || '.invalid' AS host,
        |  CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
        |  n_known + n_new AS n_entries, n_known, n_new, new_id_sum
        |FROM a ORDER BY host""".stripMargin,
    // the tx_link_rank iteration replay feeding the two-level integer
    // apportionment: largest remainder across shards (k % 4), cumulative
    // rounding within — DuckDB's // and Spark's div agree on positives
    "tx_crawl_budget" ->
      """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
        |       FROM n LEFT JOIN c1 ON c1.host = n.host),
        |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
        |       FROM n LEFT JOIN c2 ON c2.host = n.host),
        |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
        |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
        |       FROM n LEFT JOIN c3 ON c3.host = n.host),
        |ranked AS (SELECT host, rank,
        |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard
        |  FROM r3),
        |sw AS (SELECT shard, CAST(SUM(rank) AS BIGINT) AS ws
        |       FROM ranked GROUP BY shard),
        |g AS (SELECT CAST(SUM(ws) AS BIGINT) AS w FROM sw),
        |sb AS (SELECT shard, ws, 10000 * ws // w AS base,
        |         (10000 * ws) % w AS rem FROM sw, g),
        |lo AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS leftover FROM sb),
        |rkd AS (SELECT shard, ws, base +
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |      <= leftover THEN 1 ELSE 0 END AS bs
        |  FROM sb, lo),
        |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
        |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
        |      ORDER BY ranked.host) AS BIGINT) AS cw
        |  FROM ranked JOIN rkd USING (shard))
        |SELECT host, shard, rank,
        |  CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |FROM cum ORDER BY host""".stripMargin,
    // both epochs' ranks replayed verbatim: two multiplicative rounds mod
    // 2^31-1 over the epoch-salted doc_id; shard = rank // width
    "tx_epoch_shuffle" ->
      """WITH r AS (
        |  SELECT doc_id, e,
        |    ((((doc_id + e * 1013904223) % 2147483647) * 48271 % 2147483647)
        |      * 69621) % 2147483647 AS rank
        |  FROM documents, UNNEST(GENERATE_SERIES(0, 1)) AS t(e))
        |SELECT e AS epoch, rank // 268435456 AS shard,
        |  COUNT(*) AS n_docs, COUNT(DISTINCT rank) AS n_ranks,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  MIN(rank) AS rank_min, MAX(rank) AS rank_max
        |FROM r GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,
    "mm_media_probe" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'wav' WHEN 3 THEN 'flac'
        |    WHEN 4 THEN 'ogg' WHEN 5 THEN 'mp3' WHEN 6 THEN 'ogg' WHEN 7 THEN 'avi'
        |    WHEN 8 THEN 'mp4'
        |    ELSE CASE WHEN (doc_id // 10) % 2 = 1 THEN 'webm' ELSE 'mkv' END END AS container,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'pcm_s16le' WHEN 3 THEN 'flac'
        |    WHEN 4 THEN 'flac'
        |    WHEN 5 THEN CASE WHEN (doc_id // 10) % 2 = 0 THEN 'mpeg1-layer3' ELSE 'mpeg2-layer3' END
        |    WHEN 6 THEN 'vorbis' ELSE 'mjpeg' END AS codec,
        |  CASE WHEN doc_id % 10 IN (0, 1) THEN (((doc_id // 10) % 16) + 1) * 4
        |       WHEN doc_id % 10 >= 7 THEN 16 END AS width,
        |  CASE WHEN doc_id % 10 IN (0, 1) THEN (((doc_id // 10) % 12) + 1) * 4
        |       WHEN doc_id % 10 >= 7 THEN 16 END AS height,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4, 6) THEN 8000 * (((doc_id // 10) % 3) + 1)
        |       WHEN doc_id % 10 = 5 THEN CASE WHEN (doc_id // 10) % 2 = 0
        |         THEN CASE (doc_id // 10) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |         ELSE CASE (doc_id // 10) % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000 ELSE 16000 END END
        |  END AS sample_rate,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4, 6) THEN ((doc_id // 10) % 2) + 1
        |       WHEN doc_id % 10 = 5 THEN CASE WHEN (doc_id // 10) % 3 = 0 THEN 1 ELSE 2 END
        |  END AS channels,
        |  CASE WHEN doc_id % 10 IN (2, 3, 4) THEN (((doc_id // 10) % 25) + 1) * 200
        |       WHEN doc_id % 10 = 5 THEN (((doc_id // 10) % 10) + 1) *
        |         (CASE WHEN (doc_id // 10) % 2 = 0 THEN 1152 ELSE 576 END)
        |       WHEN doc_id % 10 >= 7 THEN ((doc_id // 10) % 8) + 2
        |  END AS n_frames,
        |  doc_id % 10 NOT IN (5, 6) AS decodable
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_media_pipeline" ->
      """SELECT media_id, status, TRUE AS resized_ok FROM (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'quarantined' ELSE 'kept' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |    CASE WHEN doc_id % 7 = 0 THEN 'kept' ELSE 'deduped' END
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin,
    "mm_video_dedup" ->
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY media_id""".stripMargin,
    "mm_audio_dedup" ->
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin,
    "mm_image_dedup" ->
      """SELECT media_id, cluster, kept FROM (
        |  SELECT doc_id AS media_id, doc_id AS cluster, TRUE AS kept
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000, doc_id, FALSE
        |  FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY media_id""".stripMargin,
    "mm_media_quarantine" ->
      """SELECT modality, status, COUNT(*) AS n_rows, TRUE AS survivors_ok
        |FROM (
        |  SELECT 'image' AS modality,
        |    CASE WHEN doc_id % 7 = 0 THEN 'undecodable_image' ELSE 'ok' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT 'audio',
        |    CASE WHEN doc_id % 7 = 0 THEN 'undecodable_audio' ELSE 'ok' END
        |  FROM documents)
        |GROUP BY modality, status ORDER BY modality, status""".stripMargin,
    "mm_flac_fixed" ->
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity,
        |  TRUE AS compressed
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_ogg_features" ->
      """SELECT doc_id AS media_id,
        |  8000 * ((doc_id % 3) + 1) AS sample_rate,
        |  (doc_id % 2) + 1 AS channels,
        |  ((doc_id % 25) + 1) * 200 AS n_frames,
        |  TRUE AS codec_parity
        |FROM documents ORDER BY media_id""".stripMargin,
    "tx_quarantine_readmit" ->
      """WITH good AS (
        |  SELECT source, n_chars % 8 AS bin FROM documents WHERE doc_id % 3 <> 0),
        |ref AS (
        |  SELECT source, bin, COUNT(*) AS n FROM (
        |    SELECT * FROM good UNION ALL SELECT 'drifted', bin FROM good)
        |  GROUP BY 1, 2),
        |q0 AS (
        |  SELECT source, doc_id, n_chars % 8 AS bin FROM documents WHERE doc_id % 3 = 0),
        |quar AS (
        |  SELECT source, bin FROM q0
        |  UNION ALL SELECT 'drifted', bin FROM q0 WHERE bin = 0
        |  UNION ALL SELECT 'unknown_src', bin FROM q0 WHERE doc_id % 5 = 0),
        |qh AS (SELECT source, bin, COUNT(*) AS n FROM quar GROUP BY 1, 2),
        |cells AS (
        |  SELECT source, bin, SUM(c0) AS c0, SUM(c1) AS c1 FROM (
        |    SELECT source, bin, n AS c0, 0 AS c1 FROM ref
        |    UNION ALL SELECT source, bin, 0, n FROM qh)
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(c0) AS t0, SUM(c1) AS t1 FROM cells GROUP BY 1),
        |tvd AS (
        |  SELECT c.source, SUM(ABS(c.c1 * t.t0 - c.c0 * t.t1)) / (2.0 * t.t0 * t.t1) AS tvd
        |  FROM cells c JOIN tot t USING (source)
        |  WHERE t.t0 > 0 AND t.t1 > 0
        |  GROUP BY c.source, t.t0, t.t1),
        |nr AS (SELECT source, COUNT(*) AS n_rows FROM quar GROUP BY 1)
        |SELECT nr.source, ROUND(tvd.tvd, 4) AS tvd, nr.n_rows,
        |  COALESCE(tvd.tvd < 0.35, FALSE) AS readmitted
        |FROM nr LEFT JOIN tvd USING (source) ORDER BY source""".stripMargin,
    "sim_ivf_refit" ->
      """SELECT 16 AS n_buckets, TRUE AS refit_triggered,
        |  TRUE AS frozen_ok, TRUE AS fit_recovered""".stripMargin,
    "sim_ann_maintain" ->
      """SELECT 16 AS n_buckets, TRUE AS bootstrap_ok, TRUE AS indist_stable,
        |  TRUE AS refit_on_shift, TRUE AS frozen_ok,
        |  TRUE AS fit_recovered""".stripMargin,
    "mm_avi_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_mp4_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_mkv_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(((doc_id % 8) + 2) / 2.0) AS BIGINT) AS n_sampled,
        |  TRUE AS container_parity
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  CAST(CEIL(octet_length(encode(text)) / 100.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    "sim_bruteforce_topk" ->
      """SELECT qid AS query_id, rank, vec_id AS neighbor_id, cos FROM (
        |  SELECT q.vec_id AS qid, c.vec_id,
        |    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  )
}
