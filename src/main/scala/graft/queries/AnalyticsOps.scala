package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Round-4 analytics additions: iterative graph centrality, warehouse
  * dimension maintenance, a quantile sketch, time-series anomaly
  * flagging, and a banded interval join — operator families a
  * large-scale pipeline needs that none of the earlier gates cover.
  *
  * Numeric discipline matches the rest of the catalog: every derived
  * quantity the driver hashes is integer (fixed-point `floor(x·100)` /
  * `floor(x·10⁴)` quantization, integer division, integer
  * cross-multiplication), so DuckDB replays each operator exactly.
  */
object AnalyticsOps {

  // ---------------------------------------------------------------
  // q129 — PageRank (iterative graph centrality)
  // ---------------------------------------------------------------

  /** PageRank over the part↔supplier supply graph (Page et al. 1999).
    * Nodes: parts (2·l_partkey) and suppliers (2·l_suppkey+1); edges:
    * both directions of the DISTINCT (part, supplier) supply relation,
    * so every node has out-degree ≥ 1 (no dangling-mass term). Fixed
    * integer arithmetic — rank starts at 10⁶, each step is
    * r'(v) = 150000 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100 —
    * so the fixed iteration count replays exactly in any engine.
    *
    * 100 TB shape: the edge list is the corpus-sized side and is
    * partitioned ONCE by src (reused across all iterations); the rank
    * frame is node-bounded and localCheckpoint'd each step, so plan
    * depth and lineage stay CONSTANT in the iteration count (the same
    * discipline as the BPE merge loop and CC propagation). Each step
    * is one src-keyed join + one dst-keyed agg — no corpus-wide
    * broadcast. The ONE driver-side collect is the bounded local-regime
    * probe below (≤ localEdgeCap+1 rows, cap itself clamped to
    * heap/1000); past the cap nothing graph-sized touches the driver. */
  def pageRank(edges: DataFrame, iterations: Int = 5): DataFrame = {
    // DRIVER-LOCAL REGIME (the CC union-find / BPE merge-loop idiom,
    // guide §1.2 "the distributed algorithm" + §5 "the driver should do
    // almost no data work" — bounded state is the explicit exception):
    // the whole iteration is a fixed integer recurrence over the edge
    // list, so while the edge count fits a bounded driver buffer
    // (spark.graft.pagerank.localEdgeCap), collect the edges ONCE and
    // replay the identical recurrence locally — one Spark job total,
    // against ~32 (persist + per-iteration agg/join/checkpoint jobs)
    // for the distributed loop (5.95 s steady-state wall on q129,
    // 21k nodes / 1.18M edges, sf0.1, before this regime). Past the cap the
    // distributed regimes below run unchanged; a parity test pins the
    // two label-for-label on a multigraph with duplicate edges and
    // non-source sinks.
    // The cap bounds DRIVER memory (~100 B per collected edge Row), so
    // clamp it to heap/1000 as well — the conf can only lower the
    // derived bound on a small driver, never raise the buffer past
    // ~10% of heap (round-13 advice: the flat 2M default assumed this
    // repo's 24g bench JVM, which is a config, not a guarantee).
    val localCap0 = edges.sparkSession.conf
      .get("spark.graft.pagerank.localEdgeCap", "2000000").toLong
    val localCap = math.min(math.min(localCap0, (Int.MaxValue - 2).toLong),
      Runtime.getRuntime.maxMemory / 1000)
    // capped TAKE, not count + collect: executeTake's incremental waves
    // evaluate the edge construction ONCE (shuffle map stages are
    // shared across waves), where a count probe followed by a collect
    // re-ran the whole construction lineage a second time. An over-cap
    // graph wastes one bounded (cap+1)-row fetch and falls through.
    val rows = if (localCap > 0)
      edges.select(col("src"), col("dst")).limit(localCap.toInt + 1).collect()
    else Array.empty[org.apache.spark.sql.Row]
    if (localCap > 0 && rows.length <= localCap) {
      // Null handling mirrors the distributed loop exactly (round-13
      // advice — the regimes must agree edge-for-edge): a null-src edge
      // never joins (contributes nothing, spawns no node); a null-dst
      // edge DOES count toward its src's outdeg (the src-window sees
      // it) but its contribution lands on the dropped null group.
      val outdeg = new java.util.HashMap[Long, Long]()
      rows.foreach { r => if (!r.isNullAt(0)) outdeg.merge(r.getLong(0), 1L, _ + _) }
      var rank = new java.util.HashMap[Long, Long]()
      outdeg.keySet.forEach(n => rank.put(n, 1000000L))
      for (_ <- 1 to iterations) {
        val contrib = new java.util.HashMap[Long, Long]()
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val s = r.getLong(0)
            contrib.merge(r.getLong(1), rank.get(s) / outdeg.get(s), _ + _)
          }
        }
        val next = new java.util.HashMap[Long, Long]()
        // only source nodes carry rank (the distributed loop's
        // nodes-left-join drops contributions to non-source sinks)
        outdeg.keySet.forEach { n =>
          next.put(n, 150000L + (85L * contrib.getOrDefault(n, 0L)) / 100L)
        }
        rank = next
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      rank.forEach((n, v) => out += org.apache.spark.sql.Row(n, v))
      val sess = edges.sparkSession
      // a row-RDD frame (not a LocalRelation, not an object dataset) so
      // the result keeps the "Scan ExistingRDD" shape the q129 plan pin
      // asserts for both regimes
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("r", org.apache.spark.sql.types.LongType, nullable = false)))
      return sess.createDataFrame(sess.sparkContext.parallelize(out.toSeq), schema)
    }
    // outdeg via a window on the src-partitioned frame: one exchange
    // (reused by every iteration's src-keyed join in the distributed
    // regime) instead of the former groupBy + join, which shuffled the
    // edge set twice before the loop even started (guide §2.4: two
    // operations keyed the same way share one exchange).
    val edgesD = edges.repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .persist()
    // a null src never joins and spawns no node, as in the local regime
    val nodes = edges.where(col("src").isNotNull).select(col("src").as("node")).distinct().persist()
    // REGIME SPLIT (round 13, guide §3.1): the rank frame is
    // node-bounded, so while the node count fits a broadcast budget,
    // each iteration's two node-keyed joins ride broadcasts — the only
    // shuffle left per step is the map-side-combined contribution agg
    // (edge-volume in, node-bounded out). Past the cap (conf
    // spark.graft.pagerank.broadcastNodeCap) the shuffle joins below
    // run unchanged — same arithmetic, same results, both regimes.
    // The count also materializes the persisted node frame.
    val bcastCap = edges.sparkSession.conf
      .get("spark.graft.pagerank.broadcastNodeCap", "4000000").toLong
    val useBcast = nodes.count() <= bcastCap
    def side(df: DataFrame): DataFrame = if (useBcast) broadcast(df) else df
    // EAGER per-iteration checkpoints — measured, not assumed: the loop
    // body contains no action, so LAZY checkpoints defer all five
    // iterations into the consumer's single job (no per-iteration AQE
    // sizing, no broadcast re-planning) and run 1.6x SLOWER (8.0 s vs
    // 5.1 s isolated at sf0.1). Lazy only wins when an action already
    // materializes each cut (ScalableRank's counts job, commit's stats
    // job); an iterative loop with a terminal-only action is the
    // opposite shape.
    var r = nodes.withColumn("r", lit(1000000L)).localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contribs = edgesD.join(side(r), edgesD("src") === r("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      r = nodes.join(side(contribs), nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          expr("150000 + (85 * coalesce(s, 0)) div 100").as("r"))
        .localCheckpoint(true)
    }
    edgesD.unpersist()
    nodes.unpersist()
    r
  }

  def q129PageRank(s: SparkSession, dir: String): DataFrame = {
    // NOT checkpointed (round 13, measured): cutting the distinct
    // supply relation here read 7.99 s vs 7.59 s min in a same-window
    // A/B — the extra materialization job costs more than the repeated
    // distinct, whose self-identical exchange legs already reuse
    val li = lineitem(s, dir).select(
      (col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = li.select(col("sp").as("src"), col("p").as("dst"))
      .unionByName(li.select(col("p").as("src"), col("sp").as("dst")))
    pageRank(edges)
      .select(col("node"),
        when(col("node") % 2 === 1, "supplier").otherwise("part").as("node_type"),
        col("r").as("rank_q"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------
  // q130 — SCD2 dimension merge (warehouse maintenance)
  // ---------------------------------------------------------------

  /** Slowly-changing-dimension (type 2) merge: apply a change batch to
    * a versioned dimension, closing the current row of every changed
    * key (valid_to = batch time) and opening a new version, keeping
    * unchanged keys open, and inserting new keys. This is the
    * incremental-maintenance operator a 100 TB warehouse runs nightly;
    * the reference's MarcStore history is the record-keyed analog, this
    * is the relational interval form.
    *
    * The change batch is synthesized deterministically from the
    * dimension itself (so the oracle replays it): every c_custkey
    * divisible by 7 changes segment (suffix "_V2") and gains 100 on
    * the balance; every key divisible by 13 also appears as a brand-new
    * key (custkey + maxkey). Scale shape: ONE full-outer equi-join on
    * the dimension key and a bounded per-key row fan-out (≤ 2) — no
    * window over the dimension, no skew risk beyond the key itself. */
  def scd2Merge(dim: DataFrame, batch: DataFrame,
                t1: Long, t2: Long, openEnd: Long = 253402300800L): DataFrame = {
    val d = dim.select(col("key"), col("segment").as("d_seg"), col("bal").as("d_bal"))
    val b = batch.select(col("key").as("b_key"), col("segment").as("b_seg"),
      col("bal").as("b_bal"))
    val joined = d.join(b, col("key") === col("b_key"), "full_outer")
    // three disjoint cases emit 1-2 rows each via an exploded struct array
    val rows = joined.select(explode(
      when(col("b_key").isNull, // unchanged: one open v1 row
        array(struct(col("key"), lit(1L).as("version"), lit(t1).as("valid_from_s"),
          lit(openEnd).as("valid_to_s"), col("d_seg").as("segment"), col("d_bal").as("bal"))))
      .when(col("key").isNull, // insert: one open v1 row at t2
        array(struct(col("b_key").as("key"), lit(1L).as("version"), lit(t2).as("valid_from_s"),
          lit(openEnd).as("valid_to_s"), col("b_seg").as("segment"), col("b_bal").as("bal"))))
      .otherwise( // changed: closed v1 + open v2
        array(
          struct(col("key"), lit(1L).as("version"), lit(t1).as("valid_from_s"),
            lit(t2).as("valid_to_s"), col("d_seg").as("segment"), col("d_bal").as("bal")),
          struct(col("key"), lit(2L).as("version"), lit(t2).as("valid_from_s"),
            lit(openEnd).as("valid_to_s"), col("b_seg").as("segment"), col("b_bal").as("bal"))))
    ).as("r")).select("r.*")
    rows.orderBy("key", "version")
  }

  def q130Scd2(s: SparkSession, dir: String): DataFrame = {
    val dim = customer(s, dir).select(col("c_custkey").as("key"),
      col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
    val maxKey = lit(200000000L) // disjoint insert-key range, scale-independent
    val changes = dim.where(col("key") % 7 === 0)
      .select(col("key"), concat(col("segment"), lit("_V2")).as("segment"),
        (col("bal") + 100.0d).as("bal"))
    val inserts = dim.where(col("key") % 13 === 0)
      .select((col("key") + maxKey).as("key"), lit("NEWSEG").as("segment"),
        lit(0.0d).as("bal"))
    scd2Merge(dim, changes.unionByName(inserts), t1 = 1000000L, t2 = 2000000L)
  }

  // ---------------------------------------------------------------
  // q131 — histogram quantile sketch
  // ---------------------------------------------------------------

  /** Mergeable fixed-bin histogram quantiles — the quantile member of
    * the sketch suite (q120 HLL distinct, q124 CMS frequency, q111
    * Misra-Gries heavy hitters): per-group p50/p95/p99 with error
    * bounded by the bin width, computed from a ≤ ~1200-bucket
    * histogram instead of a per-group sort. Values quantize to
    * fixed-point (floor(v·100), bin = v_q div 500 — 5.00-unit bins);
    * the cumulative pass windows over the BOUNDED histogram, never the
    * corpus (q107's tercile discipline, generalized to arbitrary
    * percentiles). At 100 TB the histogram is one map-side-combined
    * groupBy; shards merge by adding bin counts — the sketch is
    * trivially mergeable, which a sorted-percentile is not. */
  def histogramQuantiles(values: DataFrame, binWidth: Long = 500L,
                         percentiles: Seq[Int] = Seq(50, 95, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = values.select(col("g"),
      expr(s"vq div $binWidth").as("b"))
    val hist = binned.groupBy("g", "b").agg(count(lit(1)).as("c"))
    val byG = Window.partitionBy("g")
    val cum = hist
      .withColumn("cum", sum("c").over(byG.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("c").over(byG))
    val cuts = percentiles.map { p =>
      cum.where(col("cum") * 100 >= col("total") * p)
        .groupBy("g").agg((min("b") * binWidth).as(s"p${p}_vq"))
    }
    val totals = hist.groupBy("g").agg(sum("c").as("n_values"))
    cuts.foldLeft(totals)((acc, c) => acc.join(c, "g")).orderBy("g")
  }

  def q131HistQuantiles(s: SparkSession, dir: String): DataFrame =
    histogramQuantiles(events(s, dir).select(col("event_type").as("g"),
      floor(col("value") * 100).as("vq")))
      .withColumnRenamed("g", "event_type")

  // ---------------------------------------------------------------
  // q132 — rolling z-score anomaly detection
  // ---------------------------------------------------------------

  /** Rolling anomaly flagging: an event is anomalous when its value
    * deviates from the mean of the user's previous `k` events by more
    * than 3 rolling standard deviations. The z-test is evaluated by
    * integer cross-multiplication — (n·v − S)² > 9·(n·Q − S²) with
    * S = Σv, Q = Σv² over the trailing window — so no square root or
    * float division ever happens and the oracle replay is exact.
    * Shape: ONE shuffle on user_id and a bounded trailing-rows window
    * (the q89/q127 funnel discipline); no self-join, no range join. */
  def rollingAnomalies(ev: DataFrame, k: Int = 20, minPrev: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
      .rowsBetween(-k, -1)
    ev
      .withColumn("n", count("vq").over(w))
      .withColumn("s", sum("vq").over(w))
      .withColumn("q", sum(col("vq") * col("vq")).over(w))
      .where(col("n") >= minPrev &&
        (col("n") * col("vq") - col("s")) * (col("n") * col("vq") - col("s"))
          > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("event_id"), col("user_id"), col("ts_s"), col("vq"),
        col("n").as("n_prev"), expr("s div n").as("mean_vq"))
      .orderBy("event_id")
  }

  def q132Anomalies(s: SparkSession, dir: String): DataFrame =
    rollingAnomalies(events(s, dir).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s"), floor(col("value") * 100).as("vq")))

  // ---------------------------------------------------------------
  // q133 — banded interval join (session concurrency)
  // ---------------------------------------------------------------

  /** Interval-overlap join, the range-join shape Spark has no native
    * operator for. Sessions (gap-based, the q20 semantics) are the
    * interval side; the probe side is the full event stream; the
    * answer is how many events (any user) fall inside each session's
    * [start, end] span — a concurrency/load metric.
    *
    * The scale-correct plan is BANDED: each interval explodes into the
    * epoch-hour buckets it covers (bounded by session length — gap
    * sessions are ≤ gap·events long), events carry their single
    * bucket, and the join is a plain bucket EQUI-join + exact
    * containment filter. A naive ts-range join is O(intervals ×
    * events) per overlapping band; this is O(events + interval-hours)
    * shuffled on the bucket key, with AQE handling hot-hour skew.
    * Each event lands in exactly one bucket, so containment needs no
    * post-join dedup. */
  def sessionConcurrency(ev: DataFrame, gapSeconds: Long = 1800L,
                         bucketSeconds: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val sessions = ev
      .withColumn("prev_ts", lag("ts_s", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_no")
      .agg(min("ts_s").as("start_s"), max("ts_s").as("end_s"),
        count(lit(1)).as("n_events"))
    val sessBuckets = sessions.select(col("user_id"), col("sess_no"),
      col("start_s"), col("end_s"), col("n_events"),
      explode(sequence(expr(s"start_s div $bucketSeconds"),
        expr(s"end_s div $bucketSeconds"))).as("bkt"))
    val evBuckets = ev.select(expr(s"ts_s div $bucketSeconds").as("bkt"),
      col("ts_s").as("e_ts"))
    sessBuckets.join(evBuckets, "bkt")
      .where(col("e_ts") >= col("start_s") && col("e_ts") <= col("end_s"))
      .groupBy("user_id", "sess_no", "start_s", "end_s", "n_events")
      .agg(count(lit(1)).as("n_concurrent"))
      .orderBy("user_id", "sess_no")
  }

  def q133IntervalJoin(s: SparkSession, dir: String): DataFrame =
    sessionConcurrency(events(s, dir).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s")))

  // ---------------------------------------------------------------
  // q134-q136 — OLAP shapes: grouping sets, pivot, JSON extraction
  // ---------------------------------------------------------------

  /** ROLLUP grouping sets — the OLAP subtotal shape (`(a,b)`, `(a)`,
    * `()`), one pass over the fact table with Spark's native rollup
    * (expand + single hash aggregate, no per-level re-scan). Subtotal
    * rows are labeled "ALL" via `grouping()` instead of NULL so the
    * output never depends on cross-engine NULL sort order. */
  def q134Rollup(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping(col("o_orderstatus")).as("g_s"),
        grouping(col("o_orderpriority")).as("g_p"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,2)")).cast("double").as("total_price"))
      .select(
        when(col("g_s") === 1, "ALL").otherwise(col("o_orderstatus")).as("status_g"),
        when(col("g_p") === 1, "ALL").otherwise(col("o_orderpriority")).as("priority_g"),
        col("n_orders"), col("total_price"))
      .orderBy("status_g", "priority_g")
  }

  /** PIVOT — long-to-wide reshaping with an EXPLICIT pivot-value list
    * (the scale-correct form: without it Spark collects the distinct
    * pivot keys to the driver first). One hash aggregate; missing
    * cells are zero-filled. */
  def q135Pivot(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** Semi-structured JSON extraction — pull a typed field out of the
    * events `props` JSON column and aggregate on it. `get_json_object`
    * is a codegen'd expression evaluated in the scan's project, so the
    * parse never leaves whole-stage codegen; the aggregate is one
    * map-side-combined groupBy. Integer mean via `s div n`. */
  def q136JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .select(col("event_type"), col("n"), col("sum_k"), col("min_k"), col("max_k"),
        expr("sum_k div n").as("mean_k"))
      .orderBy("event_type")

  // ---------------------------------------------------------------
  // q137-q140 — reshaping, cube, gap-fill, entity resolution
  // ---------------------------------------------------------------

  /** UNPIVOT (wide→long reshaping) — the inverse of q135's pivot.
    * Spark's native `unpivot` is a single Expand over the scan (each
    * input row emits one output row per value column, no join, no
    * shuffle), so it streams at scan speed at any scale. Both metrics
    * quantize to fixed-point BIGINT so the long-format value column is
    * one exact type. */
  def q137Unpivot(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        (col("p_size").cast("long") * 100).as("size_q"),
        floor(col("p_retailprice") * 100).as("price_q"))
      .unpivot(Array(col("p_partkey")), Array(col("size_q"), col("price_q")),
        "metric", "value_q")
      .orderBy("p_partkey", "metric")

  /** CUBE grouping sets — all four of {(),(seg),(band),(seg,band)} in
    * ONE pass (Expand + single hash aggregate), vs four re-scans if
    * each subtotal level were its own groupBy. Subtotals labeled via
    * `grouping()` ("ALL" / -1) so output never leans on cross-engine
    * NULL ordering; money sums go through DECIMAL (exact, order-free)
    * per the catalog's numeric discipline. */
  def q138Cube(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .select(col("c_mktsegment"), expr("c_nationkey div 5").as("nband"),
        col("c_acctbal"))
      .cube(col("c_mktsegment"), col("nband"))
      .agg(grouping(col("c_mktsegment")).as("g_s"), grouping(col("nband")).as("g_n"),
        count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(20,2)")).cast("double").as("total_bal"))
      .select(
        when(col("g_s") === 1, "ALL").otherwise(col("c_mktsegment")).as("seg_g"),
        when(col("g_n") === 1, lit(-1L)).otherwise(col("nband")).as("nband_g"),
        col("n_cust"), col("total_bal"))
      .orderBy("seg_g", "nband_g")

  /** Time-series gap-fill + forward-fill: densify the per-status daily
    * order series onto a complete day spine (missing days → 0 orders)
    * and carry the last observed daily revenue forward — the resample/
    * ffill operator every time-series warehouse needs.
    *
    * Scale shape: the corpus-sized pass is ONE map-side-combined
    * groupBy to the daily aggregate; everything after (spine explode,
    * left join, carry-forward window) runs on the CALENDAR-bounded
    * series (days × statuses, thousands of rows at any corpus size),
    * so the window never partitions the raw data. Daily revenue is an
    * exact DECIMAL sum quantized to cents. */
  def gapFillDaily(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = daily.groupBy("status").agg(min("day_n").as("mn"), max("day_n").as("mx"))
    val spine = bounds.select(col("status"),
      explode(sequence(col("mn"), col("mx"))).as("day_n"))
    spine.join(daily, Seq("status", "day_n"), "left")
      .select(col("status"), col("day_n"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        last("price_q", ignoreNulls = true)
          .over(Window.partitionBy("status").orderBy("day_n")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("carried_price_q"))
      .orderBy("status", "day_n")
  }

  def q139GapFill(s: SparkSession, dir: String): DataFrame =
    gapFillDaily(orders(s, dir)
      .select(col("o_orderstatus").as("status"),
        // o_orderdate is TIMESTAMP_NTZ; relabel via TIMESTAMP (UTC
        // session → identity) before the epoch-seconds cast
        expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("day_n"),
        col("o_totalprice"))
      .groupBy("status", "day_n")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(20,2)")) * 100)
          .cast("long").as("price_q")))

  /** Blocked fuzzy entity resolution: match a "dirty" batch (names with
    * transposed trailing characters — the classic typo) back to the
    * clean dimension. The scale-correct shape is BLOCKING: an equi-join
    * on a robust block key (all but the last 2 chars — invariant under
    * the corruption) bounds candidates per record, then Levenshtein ≤ 2
    * verifies and a per-batch-key window keeps the single best match
    * (min distance, tie-break min key). Never an all-pairs cross join;
    * AQE absorbs hot blocks. The dirty batch is synthesized
    * deterministically from the dimension itself so the oracle replays
    * the whole pipeline. */
  def entityMatch(dim: DataFrame, dirty: DataFrame, maxDist: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EXACT-FIRST COLLAPSE on both sides (the q104/q114 discipline
    // applied to entity resolution): every dirty row with the same
    // dirty_name gets the same match, and among dim rows sharing a
    // c_name only the min-c_custkey copy can win the
    // (edit_dist, c_custkey) tie-break — so blocking and the
    // Levenshtein verify run once per DISTINCT name pair and batch
    // keys expand at the end. A duplicate-heavy dimension (the
    // native-x10 probe carries 10 identical copies of every c_name)
    // otherwise pays block-join volume quadratic in the duplicate
    // multiplicity — measured 29.6 s at native-x10 for answers
    // identical to the collapsed plan's.
    // fan the distinct dirty names out to session cores BEFORE the
    // block join (round 14, guide §2.5): the tiny distinct coalesces
    // to ~1 partition under AQE and the broadcast block join preserves
    // it, so the Levenshtein verify — the dominant per-candidate cost —
    // otherwise runs serially (measured: 2.8 s of task time on ≤3
    // concurrent tasks, wall 3.0 s). Round-robin over an explicit
    // width, which AQE keeps; at production volumes the distinct is
    // already wide and this is a fixed-cost no-op relative to the
    // verify it spreads.
    val cores = math.max(dirty.sparkSession.sparkContext.defaultParallelism, 1)
    val dNames = dirty.select(col("dirty_name")).distinct()
      .repartition(cores)
      .withColumn("blk", expr("substring(dirty_name, 1, length(dirty_name)-2)"))
    // BOTH distinct-name frames fanned: AQE broadcasts whichever side
    // is smaller, and the verify projection fuses into the join stage
    // on the STREAMED side — so that side must be wide whichever way
    // the planner picks. At production volumes both frames are already
    // wide and the repartition shuffles only the bounded name tables,
    // never the candidate stream.
    val mReps = dim.groupBy(col("c_name")).agg(min(col("c_custkey")).as("c_custkey"))
      .repartition(cores)
      .withColumn("blk", expr("substring(c_name, 1, length(c_name)-2)"))
    // thresholded levenshtein (round 13): the 3-arg form runs the
    // banded O(len·maxDist) DP and early-exits to -1 past the bound —
    // identical distances for every row this filter keeps, so the
    // result set is unchanged while the dominant per-candidate cost
    // drops from O(len²) to O(len·k)
    val cand = dNames.join(mReps, "blk")
      .withColumn("edit_dist",
        levenshtein(col("dirty_name"), col("c_name"), maxDist).cast("long"))
      .where(col("edit_dist") >= 0)
    val bestPerName = cand
      .withColumn("rn", row_number().over(
        Window.partitionBy("dirty_name").orderBy(col("edit_dist"), col("c_custkey"))))
      .where(col("rn") === 1)
      .select(col("dirty_name"), col("c_custkey").as("matched_key"), col("edit_dist"))
    dirty.join(bestPerName, "dirty_name")
      .select(col("batch_key"), col("matched_key"), col("edit_dist"))
      .orderBy("batch_key")
  }

  def q140EntityMatch(s: SparkSession, dir: String): DataFrame = {
    val dim = customer(s, dir).select(col("c_custkey"), col("c_name"))
    val dirty = dim.where(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("batch_key"),
        concat(expr("substring(c_name, 1, length(c_name)-2)"),
          reverse(expr("substring(c_name, length(c_name)-1, 2)"))).as("dirty_name"))
    entityMatch(dim, dirty)
  }

  // ---------------------------------------------------------------
  // q141/q143 — graph motif counting, exponential smoothing
  // ---------------------------------------------------------------

  /** Triangle counting on the co-purchase graph (parts appearing in
    * the same order). The scale discipline is ORIENTATION: every edge
    * is stored once as u < v, and a triangle {a<b<c} is found exactly
    * once as (a,b)⋈(b,c)⋈(a,c) — three equi-joins, no post-hoc
    * dedup, wedge volume bounded by Σ deg²(middle) over oriented
    * (halved) degrees. Edge generation is order-keyed: the self-join
    * fan-out is C(items-per-order, 2), bounded by basket size, never
    * by corpus size. At 100 TB the standard refinement is degree-based
    * orientation (low-degree → high-degree endpoint), which this
    * composition admits without changing the join shape; AQE absorbs
    * residual hot-node skew. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // DEGREE orientation (Chiba–Nishizeki / Latapy): re-orient every
    // undirected edge from its lower-(degree, id) endpoint to the
    // higher one. Each triangle then has exactly ONE pivot node with
    // out-edges to the other two, and wedge volume drops from
    // Σ C(deg, 2) under arbitrary orientation to O(m^{3/2}) — on the
    // skewed co-purchase graph this is the difference between 71 s
    // and ~5 s at sf0.1, and the difference between feasible and not
    // at 100 TB. ordkey is a (degree, id) STRUCT — lexicographic
    // struct comparison gives the strict total order with no id-range
    // precondition (arithmetic packing silently collides past 1e10
    // ids and would undercount triangles).
    val deg = edges.select(col("u").as("n")).unionByName(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .select(col("n"), struct(col("deg"), col("n")).as("ordkey"))
    val oriented = edges
      .join(deg.select(col("n").as("u"), col("ordkey").as("ku")), "u")
      .join(deg.select(col("n").as("v"), col("ordkey").as("kv")), "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
        when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"))
      // materialize once: three join legs + the edge count all reuse
      // this frame instead of re-running the basket self-join
      .localCheckpoint(true)
    // edge-iterator form: a triangle {a≺b≺c} is found exactly once at
    // its LOWEST edge (a,b) as c ∈ N⁺(a) ∩ N⁺(b). Intersecting
    // per-node out-neighbor arrays (bounded by the graph's degeneracy
    // under this orientation) replaces the wedge-row explosion — the
    // 17M-row wedge shuffle at sf0.1 becomes two edge⨝adjacency
    // equi-joins and a bounded array_intersect per edge (16 s → ~4 s,
    // and at 100 TB the per-row state stays degeneracy-bounded
    // instead of wedge-count-shaped).
    val adj = oriented.groupBy("src").agg(collect_list("dst").as("nbrs"))
    val tri = oriented
      .join(adj.select(col("src").as("u"), col("nbrs").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv")),
        col("dst") === col("v"))
      .select(size(array_intersect(col("nu"), col("nv"))).cast("long").as("t"))
    // the final combine is a 1-row × 1-row cross of the two scalar
    // aggregates — the only nested-loop the plan gate permits here
    tri.agg(sum("t").as("n_triangles"))
      .crossJoin(oriented.agg(count(lit(1)).as("n_edges")))
      .select(col("n_edges"), col("n_triangles"))
  }

  def q141Triangles(s: SparkSession, dir: String): DataFrame = {
    // NOT checkpointed (round 13, measured): the self-join's two legs
    // are the IDENTICAL subtree, so ReuseExchange already shares one
    // distinct; a checkpoint here measured 5.50 s vs 4.52 s min
    // same-window (extra materialization job + lost scan fusion)
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("x").join(li.as("y"), Seq("ok"))
      .where(col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("u"), col("y.pk").as("v"))
      .distinct()
    triangleCount(edges)
  }

  /** Bounded-lag exponential smoothing (EWMA with truncated tail):
    * v̂ₜ = (16·vₜ + 8·vₜ₋₁ + 4·vₜ₋₂ + 2·vₜ₋₃ + vₜ₋₄) div Σwᵢ, weights
    * halving per lag and the divisor adapting to how many lags exist —
    * all integer, so any engine replays it exactly. Truncating the
    * geometric tail at 4 lags (weight ratio 1/16 ≈ the α=0.5 EWMA's
    * forgotten mass) is what makes the operator a bounded-frame window
    * instead of a sequential recurrence — the recurrence form cannot
    * be parallelized across a partition; this form is ONE shuffle on
    * user_id and a 5-row frame, the same discipline as q132. */
  def ewmaSmooth(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    def lg(i: Int) = lag("vq", i).over(w)
    val weights = Seq(16L, 8L, 4L, 2L, 1L)
    val terms = (0 to 4).map(i =>
      (if (i == 0) col("vq") else lg(i), lit(weights(i))))
    val num = terms.map { case (v, wt) => coalesce(v * wt, lit(0L)) }.reduce(_ + _)
    val den = terms.map { case (v, wt) =>
      when(v.isNotNull, wt).otherwise(lit(0L)) }.reduce(_ + _)
    ev.withColumn("num", num).withColumn("den", den)
      .withColumn("smooth_q", expr("num div den"))
      .select(col("event_id"), col("user_id"), col("ts_s"), col("vq"), col("smooth_q"))
      .orderBy("event_id")
  }

  def q143Ewma(s: SparkSession, dir: String): DataFrame =
    ewmaSmooth(events(s, dir).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s"), floor(col("value") * 100).as("vq")))

  // ---------------------------------------------------------------
  // q145-q148 — data layout, argmax aggregate, Markov transitions,
  // co-occurrence recommendations
  // ---------------------------------------------------------------

  /** Morton (Z-order) bit interleaving of two 16-bit dimensions — the
    * multi-dimensional clustering key a 100 TB table's file layout
    * uses so min/max file stats prune BOTH dimensions (the technique
    * behind Delta/Iceberg Z-ORDER, Morton 1966). The interleave is the
    * classic magic-number bit spread (4 shift-mask rounds per
    * dimension), pure codegen'd integer expressions in the scan's
    * project; the final sort by zval is exactly the range-partition
    * write that would cluster files at scale. */
  def zSpread16(c: Column): Column = {
    // spread 16 bits to even positions of 32: abcd… → a0b0c0d0…
    val m1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val m2 = (m1.bitwiseOR(shiftleft(m1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = (m2.bitwiseOR(shiftleft(m2, 2))).bitwiseAND(lit(0x33333333L))
    (m3.bitwiseOR(shiftleft(m3, 1))).bitwiseAND(lit(0x55555555L))
  }

  def q145Zorder(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"),
      (col("user_id") % 65536).as("xq"),
      expr("(cast(ts as long) div 86400) % 65536").as("yq"))
    e.withColumn("zval", zSpread16(col("xq"))
        .bitwiseOR(shiftleft(zSpread16(col("yq")), 1)))
      .orderBy("zval", "event_id")
  }

  /** Per-group argmax as a single-pass AGGREGATE (`max_by`), not a
    * window: the window form (q78's top-k) sorts every partition; the
    * aggregate form is one map-side-combined hash aggregate whose
    * state is a single (key, ordkey) pair per group — the right shape
    * when k=1 and groups are few. Determinism on value ties comes from
    * a (value-cents, event_id) STRUCT ordering key (lexicographic —
    * no id-range precondition, unlike arithmetic packing). */
  def q146ArgmaxGroup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100).as("vq"))
      .withColumn("ordkey", struct(col("vq"), col("event_id")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("vq").as("max_vq"),
        max_by(col("event_id"), col("ordkey")).as("argmax_event_id"))
      .orderBy("event_type")

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next type | current type) in basis points. One
    * user-keyed lag window (the q132/q143 discipline) emits
    * transitions; the matrix itself is a BOUNDED |types|² aggregate,
    * so the row-normalizing second pass windows over ≤ 25 rows
    * regardless of corpus size. */
  def markovTransitions(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val trans = ev.withColumn("prev_type", lag("event_type", 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    trans
      .withColumn("row_total", sum("n_trans").over(Window.partitionBy("prev_type")))
      .withColumn("prob_bp", expr("(n_trans * 10000) div row_total"))
      .select("prev_type", "next_type", "n_trans", "prob_bp")
      .orderBy("prev_type", "next_type")
  }

  def q147MarkovTransitions(s: SparkSession, dir: String): DataFrame =
    markovTransitions(events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("long").as("ts_s")))

  /** Item-item co-occurrence recommendations: parts bought together,
    * scored by fixed-point Jaccard over order sets
    * (score = 10⁴·co div (dₐ+d_b−co)) with the top 3 recommendations
    * per part. Shapes: basket-keyed pair fan-out bounded by C(basket,2)
    * (never corpus-quadratic), one degree aggregate joined twice, and
    * the top-k window partitions by part with a 3-row keep. The pair
    * emit is symmetric (u→v and v→u) so the window sees every part's
    * full candidate list without a second shuffle shape. */
  def q148CooccurRecs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the distinct basket-item frame ONCE (round 13): it
    // feeds the degree aggregate plus both self-join legs, and the
    // per-consumer column pruning keeps Catalyst's ReuseExchange from
    // firing — the before plan re-scanned lineitem 6 times (12 in the
    // initial plan)
    val li = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .localCheckpoint(true)
    val deg = li.groupBy("pk").agg(count(lit(1)).as("deg"))
    val co = li.as("x").join(li.as("y"), Seq("ok"))
      .where(col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
      .agg(count(lit(1)).as("co"))
    val sym = co.unionByName(co.select(col("v").as("u"), col("u").as("v"), col("co")))
    val scored = sym
      .join(deg.select(col("pk").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("pk").as("v"), col("deg").as("dv")), "v")
      .withColumn("score_q", expr("(co * 10000) div (du + dv - co)"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("u").orderBy(col("score_q").desc, col("v"))))
      .where(col("rnk") <= 3)
      .select(col("u").as("part"), col("v").as("rec"), col("co"),
        col("score_q"), col("rnk").cast("long").as("rnk"))
      .orderBy("part", "rnk")
  }

  // ---------------------------------------------------------------
  // q149-q152 — skyline, time-weighted mean, CDC apply, compaction
  // ---------------------------------------------------------------

  /** 2-D skyline (Pareto frontier: min price, max size) via the
    * bin-prune two-phase shape, NOT the naive all-pairs dominance
    * join. Phase 1 bins price and takes the running max size over
    * PRIOR bins (a window over the bounded bin table): any point
    * whose size ≤ that prefix max is dominated by something strictly
    * cheaper — provably, since an earlier bin means strictly lower
    * price. Phase 2: survivors can only be dominated within their own
    * bin (a dominator elsewhere would contradict the prefix max), so
    * the exact check is a bin-keyed anti-join with per-bin bounded
    * fan-out. The DuckDB oracle is the naive NOT-EXISTS ground truth,
    * so the pruning's losslessness is what the gate verifies. */
  def skyline2d(pts: DataFrame, binWidth: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = pts.withColumn("bin", expr(s"price_q div $binWidth"))
    // max size over strictly-PRIOR bins; the window runs on the
    // bounded bin table (≤ price-range/binWidth rows), never the corpus
    val binMax = binned.groupBy("bin").agg(max("size_v").as("bin_max"))
      .withColumn("prefix_max", coalesce(
        max("bin_max").over(Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(Long.MinValue)))
      .select(col("bin"), col("prefix_max"))
    val survivors = binned.join(binMax, "bin")
      .where(col("size_v") > col("prefix_max"))
    val dominators = survivors.select(col("bin"), col("price_q").as("d_price"),
      col("size_v").as("d_size"))
    survivors.join(dominators,
        survivors("bin") === dominators("bin") &&
          col("d_price") <= col("price_q") && col("d_size") >= col("size_v") &&
          (col("d_price") < col("price_q") || col("d_size") > col("size_v")),
        "left_anti")
      .select(col("id"), col("price_q"), col("size_v"))
      .orderBy("id")
  }

  def q149Skyline(s: SparkSession, dir: String): DataFrame =
    skyline2d(part(s, dir).select(col("p_partkey").as("id"),
      floor(col("p_retailprice") * 100).as("price_q"),
      col("p_size").cast("long").as("size_v")))

  /** Time-weighted average: each observation weighted by how long it
    * was current (until the user's next event) — the right mean for
    * irregularly-sampled state series (sensor values, account
    * balances). One user-keyed lead window + one aggregate; the last
    * observation (no successor) carries no weight. Integer:
    * twa = Σ(v·Δt) div Σ(Δt). */
  def timeWeightedAvg(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    ev.withColumn("dt", lead("ts_s", 1).over(w) - col("ts_s"))
      .where(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"), sum("dt").as("total_dt"),
        sum(col("vq") * col("dt")).as("wsum"))
      .select(col("user_id"), col("n_intervals"), col("total_dt"),
        expr("wsum div total_dt").as("twa_q"))
      .orderBy("user_id")
  }

  def q150TimeWeightedAvg(s: SparkSession, dir: String): DataFrame =
    timeWeightedAvg(events(s, dir).select(col("event_id"), col("user_id"),
      col("ts").cast("long").as("ts_s"), floor(col("value") * 100).as("vq")))

  /** CDC changelog apply (latest-wins): collapse an
    * insert/update/delete stream to final table state — the merge a
    * warehouse runs on every Debezium/binlog batch. ONE hash
    * aggregate: per key, `max_by` pulls the op and payload of the
    * highest version (deterministic: version is unique per key by
    * construction), then delete tombstones drop out. No join, no
    * window, no per-key sort — state per key is a single (version,
    * payload) pair, the shape that survives a 10¹⁰-key changelog.
    * The changelog is synthesized deterministically from orders so
    * the oracle replays it. */
  def cdcApply(log: DataFrame): DataFrame =
    log.groupBy("key")
      .agg(max("version").as("final_version"),
        max_by(col("op"), col("version")).as("final_op"),
        max_by(col("price_q"), col("version")).as("final_price_q"))
      .where(col("final_op") =!= "D")
      .select(col("key"), col("final_version"), col("final_price_q"))
      .orderBy("key")

  def q151CdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir).select(col("o_orderkey").as("key"),
      floor(col("o_totalprice") * 100).as("price_q"))
    val log = base.select(col("key"), lit("I").as("op"), lit(1L).as("version"), col("price_q"))
      .unionByName(base.where(col("key") % 5 === 0)
        .select(col("key"), lit("U").as("op"), lit(2L).as("version"),
          (col("price_q") + 1000L).as("price_q")))
      .unionByName(base.where(col("key") % 7 === 0)
        .select(col("key"), lit("D").as("op"), lit(3L).as("version"),
          lit(0L).as("price_q")))
    cdcApply(log)
  }

  /** Compaction planning (streaming first-fit bin packing): group
    * small files into target-size output bins per table partition —
    * the maintenance job that keeps a 100 TB lake's file count sane.
    * Plan shape: one window per partition directory (cumulative byte
    * sum in a deterministic file order), bin = bytes-before div
    * target; the planner never moves data, only assigns, so the
    * whole job is a metadata-sized window + project. */
  def compactionPlan(files: DataFrame, targetBytes: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("part_dir").orderBy("file_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum_b", sum("size_b").over(w))
      .withColumn("bin", expr(s"(cum_b - size_b) div $targetBytes"))
      .select(col("part_dir"), col("file_id"), col("size_b"), col("bin"))
      .orderBy("part_dir", "file_id")
  }

  def q152CompactionPlan(s: SparkSession, dir: String): DataFrame =
    compactionPlan(part(s, dir).select(col("p_brand").as("part_dir"),
      col("p_partkey").as("file_id"),
      floor(col("p_retailprice") * 100).as("size_b")))

  // ---------------------------------------------------------------
  // q154-q156 — hopping windows, incremental MV maintenance, PIT join
  // ---------------------------------------------------------------

  /** Hopping (sliding) window aggregation — 1-hour windows every 15
    * minutes via Spark's native `window(ts, size, slide)`: one Expand
    * emits each event into its size/slide (= 4) overlapping windows,
    * then one map-side-combined aggregate. The q11 tumbling gate's
    * overlapping sibling; never a self-join of events against window
    * starts. Window bounds surface as epoch seconds. */
  def q154HoppingWindows(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("ts"), col("event_type"), floor(col("value") * 100).as("vq"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("vq").as("sum_vq"))
      .select(col("window.start").cast("long").as("win_start_s"),
        col("event_type"), col("n"), col("sum_vq"))
      .orderBy("win_start_s", "event_type")

  /** Incremental materialized-view maintenance: merge a late-arriving
    * delta batch into a pre-aggregated daily view WITHOUT rescanning
    * the base — new_agg = base_agg ⊕ delta_agg, a full-outer join on
    * the group key combining counts and exact DECIMAL sums. The
    * oracle recomputes the view FROM SCRATCH over base ∪ delta, so
    * the gate proves the algebraic identity (delta-merge ≡ full
    * recompute) that makes the operator trustworthy at 100 TB, where
    * the base is never rescanned. The delta is synthesized
    * deterministically (every 13th order lands one day late with a
    * 5.00 adjustment). */
  def mvMaintain(baseAgg: DataFrame, deltaAgg: DataFrame): DataFrame = {
    val b = baseAgg.select(col("status"), col("day_n"),
      col("n_orders").as("b_n"), col("price_c").as("b_p"))
    val d = deltaAgg.select(col("status").as("d_status"), col("day_n").as("d_day"),
      col("n_orders").as("d_n"), col("price_c").as("d_p"))
    b.join(d, col("status") === col("d_status") && col("day_n") === col("d_day"),
        "full_outer")
      .select(
        coalesce(col("status"), col("d_status")).as("status"),
        coalesce(col("day_n"), col("d_day")).as("day_n"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_orders"),
        (coalesce(col("b_p"), lit(0L)) + coalesce(col("d_p"), lit(0L))).as("price_c"))
      .orderBy("status", "day_n")
  }

  def q155MvMaintain(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_orderkey"), col("o_orderstatus").as("status"),
      expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("day_n"),
      col("o_totalprice"))
    def agg(df: DataFrame) = df.groupBy("status", "day_n")
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("o_totalprice").cast("decimal(20,2)")) * 100).cast("long").as("price_c"))
    val delta = o.where(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), col("status"), (col("day_n") + 1).as("day_n"),
        (col("o_totalprice") + 5.0d).as("o_totalprice"))
    mvMaintain(agg(o), agg(delta))
  }

  /** Point-in-time (temporal) join: each fact row joins the dimension
    * VERSION that was valid at the fact's timestamp — the feature-
    * store/warehouse "as the world was then" join. On an SCD2
    * dimension the version count per key is small, so the
    * scale-correct plan is a plain KEY equi-join with the validity
    * interval as a post-join filter (bounded per-key fan-out), never
    * a timestamp range join. Fact timestamps are synthesized to
    * straddle the q130 version boundary so both versions are
    * exercised. */
  def pitJoin(facts: DataFrame, dim: DataFrame): DataFrame =
    facts.join(dim, Seq("key"))
      .where(col("fact_ts") >= col("valid_from_s") && col("fact_ts") < col("valid_to_s"))
      .select(col("fact_id"), col("key"), col("fact_ts"), col("version"), col("segment"))
      .orderBy("fact_id")

  def q156PitJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = q130Scd2(s, dir)
    val facts = orders(s, dir).select(col("o_orderkey").as("fact_id"),
      col("o_custkey").as("key"),
      (lit(1000000L) + (col("o_orderkey") % 2000000L)).as("fact_ts"))
    pitJoin(facts, dim)
  }

  // ---------------------------------------------------------------
  // q162 — session path analysis
  // ---------------------------------------------------------------

  /** Behavioral path analysis: the first-k event-type sequence of
    * every session (gap-based, the q20/q133 session semantics),
    * counted per distinct path — the "what do users do first"
    * operator, and the k-step generalization of q147's 1-step
    * transitions. One user window pass builds sessions and ranks
    * events; the path assembly groups by (user, session) — bounded
    * rows — and the path census is a count over ≤ |types|^k keys. */
  def sessionPaths(ev: DataFrame, gapSeconds: Long = 1800L, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val sessioned = ev
      .withColumn("prev_ts", lag("ts_s", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("sess_no", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ranked = sessioned.withColumn("rn", row_number().over(
      Window.partitionBy("user_id", "sess_no").orderBy("ts_s", "event_id")))
      .where(col("rn") <= k)
    ranked.groupBy("user_id", "sess_no")
      // collect_list is partition-order-dependent; sorting the
      // (rn, type) structs restores the deterministic step order
      .agg(sort_array(collect_list(struct(col("rn"), col("event_type")))).as("steps"))
      .select(concat_ws(">", col("steps.event_type")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
  }

  def q162SessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPaths(events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("long").as("ts_s")))

  // ---------------------------------------------------------------
  // q164/q165 — data profiling and constraint validation
  // ---------------------------------------------------------------

  /** Column profiler (the Deequ/Great-Expectations "analyze" shape):
    * null count, exact distinct count, and min/max per column of the
    * orders table, ONE scan — all metrics ride a single aggregate
    * (Spark plans the multi-column distinct via one Expand), then the
    * 1-row × k-metric result unpivots to long form. At 100 TB the
    * scan dominates; everything after is constant-size. Numerics are
    * quantized and everything stringifies so one typed schema carries
    * every column's profile. */
  def q164Profile(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      floor(col("o_totalprice") * 100).as("price_c"),
      expr("cast(cast(o_orderdate as timestamp) as long) div 86400").as("day_n"),
      col("o_orderpriority"))
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "price_c",
      "day_n", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq((count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = o.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map(c => struct(lit(c).as("column_name"),
      col(s"${c}__nulls").as("n_nulls"), col(s"${c}__distinct").as("n_distinct"),
      col(s"${c}__min").as("min_s"), col(s"${c}__max").as("max_s")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("column_name")
  }

  /** Constraint validation (checks as data): uniqueness, non-null,
    * domain, range, and referential integrity, each a named row with
    * its violation count — the gate a 100 TB ingest runs before
    * publishing a partition. The four scalar checks share ONE
    * aggregate pass over orders; the referential check is a
    * broadcast-free ANTI-join count (orphans = lineitems whose order
    * is missing). Zero violations is the expected steady state; the
    * oracle proves the counts, not just emptiness. */
  def q165DqChecks(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val scalar = o.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkeys"),
      (count(lit(1)) - count(col("o_custkey"))).as("null_custkeys"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("negative_prices"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
        .as("bad_status"))
    val orphans = lineitem(s, dir)
      .join(o.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("li_orphan_orders").as("check"), col("v").as("violations"))
    val checks = Seq("dup_orderkeys", "null_custkeys", "negative_prices", "bad_status")
    scalar.select(explode(array(checks.map(c =>
        struct(lit(c).as("check"), col(c).as("violations"))): _*)).as("r"))
      .select("r.*")
      .unionByName(orphans)
      .orderBy("check")
  }

  // ---------------------------------------------------------------
  // q168-q170 — range frames, ntile, native session windows
  // ---------------------------------------------------------------

  /** VALUE-range window frames (`rangeBetween`), the frame type the
    * rest of the catalog's rowsBetween windows don't exercise: each
    * event's trailing-1-hour count/sum over the user's series. Range
    * frames are the semantically-correct trailing window under
    * duplicate timestamps — every row with equal ts shares one frame,
    * so the result is deterministic with no tie-break column, where a
    * rows-frame would depend on intra-ts order. Same single user_id
    * shuffle as the q132 family. */
  def q168RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("ts_s"),
        floor(col("value") * 100).as("vq"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_vq_1h", sum("vq").over(w))
      .orderBy("event_id")
  }

  /** Quantile bucketing windows: ntile(4) quartile assignment and an
    * integer percent-rank, both over a per-type total order made
    * unique by the event id — so bucket boundaries and ranks are
    * deterministic, and pr replays as exact integer math
    * ((rank−1)·10⁴ div (n−1)) instead of a float percent_rank. */
  def q169Ntile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy("event_type").orderBy("vq", "event_id")
    events(s, dir)
      .select(col("event_id"), col("event_type"), floor(col("value") * 100).as("vq"))
      .withColumn("quartile", ntile(4).over(byType).cast("long"))
      .withColumn("rn", row_number().over(byType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("pr_bp", expr("((rn - 1) * 10000) div (n - 1)"))
      .select("event_id", "event_type", "vq", "quartile", "pr_bp")
      .orderBy("event_id")
  }

  /** Spark's NATIVE session_window (batch form) — the built-in gap
    * session operator, gated against the same gap semantics the
    * manual q20/q133/q162 constructions implement by hand: session
    * end = last event + gap, sessions split when the gap is
    * exceeded. One shuffle on (user, session) via the dedicated
    * SessionWindow aggregation — no lag/cumsum window chain at all. */
  def q170NativeSessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(floor(col("value") * 100)).as("sum_vq"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("start_s"),
        col("session_window.end").cast("long").as("end_s"),
        col("n_events"), col("sum_vq"))
      .orderBy("user_id", "start_s")

  // ---------------------------------------------------------------
  // q171 — MapType algebra
  // ---------------------------------------------------------------

  /** MapType column algebra — the per-user event-type histogram AS A
    * MAP column, exercised end-to-end: map_from_entries (construction
    * from sorted entries), size, map_entries + transform (canonical
    * string render), map_filter (threshold predicate over values),
    * element_at (point lookup with null→default). Maps are how a wide
    * 100 TB feature store avoids thousand-column schemas; everything
    * here is codegen'd collection algebra over the per-user bounded
    * map — the only shuffles are the two aggregates. */
  def q171MapAlgebra(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("cnt"))))).as("type_counts"))
      .select(col("user_id"),
        size(col("type_counts")).cast("long").as("n_types"),
        concat_ws(",", transform(map_entries(col("type_counts")),
          e => concat(e.getField("key"), lit(":"), e.getField("value"))))
          .as("counts_str"),
        size(map_filter(col("type_counts"), (_, v) => v >= 20))
          .cast("long").as("n_frequent"),
        coalesce(element_at(col("type_counts"), "purchase"), lit(0L))
          .as("n_purchases"))
      .orderBy("user_id")

  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_pagerank" -> (q129PageRank _),
    "q130_scd2_merge" -> (q130Scd2 _),
    "q131_hist_quantiles" -> (q131HistQuantiles _),
    "q132_rolling_anomaly" -> (q132Anomalies _),
    "q133_interval_join" -> (q133IntervalJoin _),
    "q134_rollup" -> (q134Rollup _),
    "q135_pivot" -> (q135Pivot _),
    "q136_json_extract" -> (q136JsonExtract _),
    "q137_unpivot" -> (q137Unpivot _),
    "q138_cube" -> (q138Cube _),
    "q139_gap_fill" -> (q139GapFill _),
    "q140_entity_match" -> (q140EntityMatch _),
    "q141_triangle_count" -> (q141Triangles _),
    "q143_ewma_smooth" -> (q143Ewma _),
    "q145_zorder" -> (q145Zorder _),
    "q149_skyline" -> (q149Skyline _),
    "q150_time_weighted_avg" -> (q150TimeWeightedAvg _),
    "q151_cdc_apply" -> (q151CdcApply _),
    "q152_compaction_plan" -> (q152CompactionPlan _),
    "q154_hopping_windows" -> (q154HoppingWindows _),
    "q162_session_paths" -> (q162SessionPaths _),
    "q164_profile" -> (q164Profile _),
    "q165_dq_checks" -> (q165DqChecks _),
    "q168_range_frame" -> (q168RangeFrame _),
    "q171_map_algebra" -> (q171MapAlgebra _),
    "q169_ntile" -> (q169Ntile _),
    "q170_native_session_window" -> (q170NativeSessionWindow _),
    "q155_mv_maintain" -> (q155MvMaintain _),
    "q156_pit_join" -> (q156PitJoin _),
    "q146_argmax_group" -> (q146ArgmaxGroup _),
    "q147_markov_transitions" -> (q147MarkovTransitions _),
    "q148_cooccur_recs" -> (q148CooccurRecs _))

  val oracle: Map[String, String] = Map(
    // replays the integer recurrence for exactly 5 iterations
    "q129_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp FROM lineitem),
        |edges AS (SELECT sp AS src, p AS dst FROM li UNION ALL SELECT p AS src, sp AS dst FROM li),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |it1 AS (SELECT n.node, 150000 + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |        FROM nodes n LEFT JOIN (edges e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src)
        |        ON e.dst = n.node GROUP BY n.node),
        |it2 AS (SELECT n.node, 150000 + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |        FROM nodes n LEFT JOIN (edges e JOIN it1 r ON e.src = r.node JOIN deg d ON d.src = e.src)
        |        ON e.dst = n.node GROUP BY n.node),
        |it3 AS (SELECT n.node, 150000 + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |        FROM nodes n LEFT JOIN (edges e JOIN it2 r ON e.src = r.node JOIN deg d ON d.src = e.src)
        |        ON e.dst = n.node GROUP BY n.node),
        |it4 AS (SELECT n.node, 150000 + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |        FROM nodes n LEFT JOIN (edges e JOIN it3 r ON e.src = r.node JOIN deg d ON d.src = e.src)
        |        ON e.dst = n.node GROUP BY n.node),
        |it5 AS (SELECT n.node, 150000 + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |        FROM nodes n LEFT JOIN (edges e JOIN it4 r ON e.src = r.node JOIN deg d ON d.src = e.src)
        |        ON e.dst = n.node GROUP BY n.node)
        |SELECT node, CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'part' END AS node_type,
        |       CAST(r AS BIGINT) AS rank_q
        |FROM it5 ORDER BY node""".stripMargin,
    // dimension rows vs the deterministically-synthesized change batch
    "q130_scd2_merge" ->
      """WITH dim AS (SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS bal FROM customer),
        |batch AS (
        |  SELECT key, segment || '_V2' AS segment, bal + 100.0 AS bal FROM dim WHERE key % 7 = 0
        |  UNION ALL
        |  SELECT key + 200000000, 'NEWSEG', 0.0 FROM dim WHERE key % 13 = 0)
        |SELECT d.key, CAST(1 AS BIGINT) AS version, CAST(1000000 AS BIGINT) AS valid_from_s,
        |       CAST(CASE WHEN b.key IS NULL THEN 253402300800 ELSE 2000000 END AS BIGINT) AS valid_to_s,
        |       d.segment, d.bal
        |FROM dim d LEFT JOIN batch b ON d.key = b.key
        |UNION ALL
        |SELECT b.key, CAST(CASE WHEN d.key IS NULL THEN 1 ELSE 2 END AS BIGINT) AS version,
        |       CAST(2000000 AS BIGINT) AS valid_from_s,
        |       CAST(253402300800 AS BIGINT) AS valid_to_s, b.segment, b.bal
        |FROM batch b LEFT JOIN dim d ON d.key = b.key
        |ORDER BY key, version""".stripMargin,
    // bounded-histogram percentiles, integer cross-multiplied cutoffs
    "q131_hist_quantiles" ->
      """WITH v AS (SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) // 500 AS b FROM events),
        |hist AS (SELECT g, b, COUNT(*) AS c FROM v GROUP BY 1, 2),
        |cum AS (SELECT g, b, c,
        |          SUM(c) OVER (PARTITION BY g ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          SUM(c) OVER (PARTITION BY g) AS total
        |        FROM hist)
        |SELECT h.g AS event_type, CAST(h.n AS BIGINT) AS n_values,
        |       p50.v AS p50_vq, p95.v AS p95_vq, p99.v AS p99_vq
        |FROM (SELECT g, SUM(c) AS n FROM hist GROUP BY 1) h
        |JOIN (SELECT g, MIN(b) * 500 AS v FROM cum WHERE cum * 100 >= total * 50 GROUP BY 1) p50 USING (g)
        |JOIN (SELECT g, MIN(b) * 500 AS v FROM cum WHERE cum * 100 >= total * 95 GROUP BY 1) p95 USING (g)
        |JOIN (SELECT g, MIN(b) * 500 AS v FROM cum WHERE cum * 100 >= total * 99 GROUP BY 1) p99 USING (g)
        |ORDER BY event_type""".stripMargin,
    // trailing-window z-test replay, integer cross-multiplied
    "q132_rolling_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |         CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    COUNT(vq) OVER win AS n, SUM(vq) OVER win AS s, SUM(vq * vq) OVER win AS q
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_s, event_id
        |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts_s, vq, CAST(n AS BIGINT) AS n_prev,
        |       CAST(s // n AS BIGINT) AS mean_vq
        |FROM w
        |WHERE n >= 5 AND (n * vq - s) * (n * vq - s) > 9 * (n * q - s * s)
        |ORDER BY event_id""".stripMargin,
    // gap sessions + plain range join (the banded plan's semantics)
    "q133_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |lagged AS (
        |  SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_ts
        |  FROM e),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM lagged),
        |numbered AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, sess_no, MIN(ts_s) AS start_s, MAX(ts_s) AS end_s,
        |         COUNT(*) AS n_events
        |  FROM numbered GROUP BY 1, 2)
        |SELECT s.user_id, CAST(s.sess_no AS BIGINT) AS sess_no, s.start_s, s.end_s,
        |       CAST(s.n_events AS BIGINT) AS n_events, COUNT(*) AS n_concurrent
        |FROM sessions s JOIN e ON e.ts_s BETWEEN s.start_s AND s.end_s
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY 1, 2""".stripMargin,
    // subtotal labels via GROUPING(), never NULL sort order
    "q134_rollup" ->
      """SELECT
        |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status_g,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority_g,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status_g, priority_g""".stripMargin,
    // conditional-aggregation replay of the explicit-value pivot
    "q135_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // typed JSON field extraction + integer aggregate
    "q136_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) // COUNT(*) AS mean_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // wide→long via UNION ALL (the Expand's semantics)
    "q137_unpivot" ->
      """SELECT p_partkey, 'size_q' AS metric, CAST(p_size AS BIGINT) * 100 AS value_q FROM part
        |UNION ALL
        |SELECT p_partkey, 'price_q' AS metric, CAST(floor(p_retailprice * 100) AS BIGINT) AS value_q FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    // four grouping sets in one CUBE, labels via GROUPING()
    "q138_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS seg_g,
        |  CAST(CASE WHEN GROUPING(nband) = 1 THEN -1 ELSE nband END AS BIGINT) AS nband_g,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS total_bal
        |FROM (SELECT c_mktsegment, c_nationkey // 5 AS nband, c_acctbal FROM customer)
        |GROUP BY CUBE (c_mktsegment, nband)
        |ORDER BY seg_g, nband_g""".stripMargin,
    // calendar spine + carry-forward over the bounded daily series
    "q139_gap_fill" ->
      """WITH daily AS (
        |  SELECT o_orderstatus AS status,
        |         epoch_ns(o_orderdate) // 1000000000 // 86400 AS day_n,
        |         COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT) AS price_q
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (SELECT status, MIN(day_n) AS mn, MAX(day_n) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT status, unnest(generate_series(mn, mx)) AS day_n FROM bounds)
        |SELECT s.status, s.day_n,
        |  CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders,
        |  LAST_VALUE(d.price_q IGNORE NULLS) OVER (PARTITION BY s.status ORDER BY s.day_n
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_price_q
        |FROM spine s LEFT JOIN daily d USING (status, day_n)
        |ORDER BY status, day_n""".stripMargin,
    // block-key candidates, Levenshtein verify, best-match window
    "q140_entity_match" ->
      """WITH dim AS (SELECT c_custkey, c_name FROM customer),
        |dirty AS (
        |  SELECT c_custkey AS batch_key,
        |         substr(c_name, 1, length(c_name)-2) ||
        |         reverse(substr(c_name, length(c_name)-1, 2)) AS dirty_name
        |  FROM dim WHERE c_custkey % 3 = 0),
        |cand AS (
        |  SELECT d.batch_key, m.c_custkey, levenshtein(d.dirty_name, m.c_name) AS edit_dist
        |  FROM dirty d JOIN dim m
        |    ON substr(d.dirty_name, 1, length(d.dirty_name)-2) =
        |       substr(m.c_name, 1, length(m.c_name)-2)
        |  WHERE levenshtein(d.dirty_name, m.c_name) <= 2),
        |best AS (
        |  SELECT batch_key, c_custkey, edit_dist,
        |         ROW_NUMBER() OVER (PARTITION BY batch_key ORDER BY edit_dist, c_custkey) AS rn
        |  FROM cand)
        |SELECT batch_key, c_custkey AS matched_key, CAST(edit_dist AS BIGINT) AS edit_dist
        |FROM best WHERE rn = 1 ORDER BY batch_key""".stripMargin,
    // oriented-edge triangle replay: each {a<b<c} counted exactly once
    "q141_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT x.pk AS u, y.pk AS v
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)
        |SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
        |       (SELECT COUNT(*)
        |        FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        |                      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin,
    // integer halving-weight smoothing with lag-presence-adjusted divisor
    "q143_ewma_smooth" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |         CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |lagged AS (
        |  SELECT *, lag(vq, 1) OVER win AS l1, lag(vq, 2) OVER win AS l2,
        |            lag(vq, 3) OVER win AS l3, lag(vq, 4) OVER win AS l4
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_s, event_id))
        |SELECT event_id, user_id, ts_s, vq,
        |  (16 * vq + COALESCE(8 * l1, 0) + COALESCE(4 * l2, 0)
        |   + COALESCE(2 * l3, 0) + COALESCE(l4, 0))
        |  // (16 + CASE WHEN l1 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN l2 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN l3 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN l4 IS NULL THEN 0 ELSE 1 END) AS smooth_q
        |FROM lagged ORDER BY event_id""".stripMargin,
    // staged magic-number bit spread, identical rounds to zSpread16
    "q145_zorder" ->
      """WITH e AS (
        |  SELECT event_id, user_id % 65536 AS xq,
        |         (epoch_ns(ts) // 1000000000 // 86400) % 65536 AS yq
        |  FROM events),
        |s1 AS (SELECT *, (xq | (xq << 8)) & 16711935 AS x1,
        |                 (yq | (yq << 8)) & 16711935 AS y1 FROM e),
        |s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |                 (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |                 (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |s4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |                 (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
        |SELECT event_id, xq, yq, x4 | (y4 << 1) AS zval
        |FROM s4 ORDER BY zval, event_id""".stripMargin,
    // single-pass argmax with a packed deterministic ordering key
    "q146_argmax_group" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(floor(value * 100) AS BIGINT) AS vq FROM events)
        |SELECT event_type, COUNT(*) AS n, MAX(vq) AS max_vq,
        |       arg_max(event_id, vq * 10000000000 + event_id) AS argmax_event_id
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // user-lag transitions, row-normalized in basis points
    "q147_markov_transitions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |lagged AS (
        |  SELECT event_type AS next_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_type
        |  FROM e),
        |trans AS (
        |  SELECT prev_type, next_type, COUNT(*) AS n_trans
        |  FROM lagged WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans,
        |  CAST((n_trans * 10000) // SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS prob_bp
        |FROM trans ORDER BY prev_type, next_type""".stripMargin,
    // basket-bounded co-occurrence, fixed-point Jaccard, top-3 window
    "q148_cooccur_recs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |deg AS (SELECT pk, COUNT(*) AS deg FROM li GROUP BY 1),
        |co AS (
        |  SELECT x.pk AS u, y.pk AS v, COUNT(*) AS co
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk GROUP BY 1, 2),
        |sym AS (SELECT u, v, co FROM co UNION ALL SELECT v, u, co FROM co),
        |scored AS (
        |  SELECT s.u, s.v, s.co, (s.co * 10000) // (du.deg + dv.deg - s.co) AS score_q
        |  FROM sym s JOIN deg du ON du.pk = s.u JOIN deg dv ON dv.pk = s.v),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY score_q DESC, v) AS rnk
        |  FROM scored)
        |SELECT u AS part, v AS rec, co, CAST(score_q AS BIGINT) AS score_q,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY part, rnk""".stripMargin,
    // NAIVE dominance ground truth: passing proves the bin prune lossless
    "q149_skyline" ->
      """WITH p AS (SELECT p_partkey AS id, CAST(floor(p_retailprice * 100) AS BIGINT) AS price_q,
        |                  CAST(p_size AS BIGINT) AS size_v FROM part)
        |SELECT id, price_q, size_v FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_q <= a.price_q AND b.size_v >= a.size_v
        |    AND (b.price_q < a.price_q OR b.size_v > a.size_v))
        |ORDER BY id""".stripMargin,
    // lead-interval weights, integer weighted mean
    "q150_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |         CAST(floor(value * 100) AS BIGINT) AS vq FROM events),
        |iv AS (
        |  SELECT *, lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) - ts_s AS dt
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(dt) AS BIGINT) AS total_dt,
        |  CAST(CAST(SUM(vq * dt) AS BIGINT) // CAST(SUM(dt) AS BIGINT) AS BIGINT) AS twa_q
        |FROM iv WHERE dt IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,
    // latest-wins collapse with delete tombstones, single arg_max pass
    "q151_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS key,
        |                     CAST(floor(o_totalprice * 100) AS BIGINT) AS price_q FROM orders),
        |log AS (
        |  SELECT key, 'I' AS op, 1 AS version, price_q FROM base
        |  UNION ALL SELECT key, 'U', 2, price_q + 1000 FROM base WHERE key % 5 = 0
        |  UNION ALL SELECT key, 'D', 3, 0 FROM base WHERE key % 7 = 0)
        |SELECT key, CAST(MAX(version) AS BIGINT) AS final_version,
        |       arg_max(price_q, version) AS final_price_q
        |FROM log GROUP BY key
        |HAVING arg_max(op, version) <> 'D'
        |ORDER BY key""".stripMargin,
    // streaming first-fit: bin = bytes-before div target, per partition
    "q152_compaction_plan" ->
      """WITH f AS (SELECT p_brand AS part_dir, p_partkey AS file_id,
        |                  CAST(floor(p_retailprice * 100) AS BIGINT) AS size_b FROM part)
        |SELECT part_dir, file_id, size_b,
        |  CAST((SUM(size_b) OVER (PARTITION BY part_dir ORDER BY file_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - size_b) // 1000000
        |       AS BIGINT) AS bin
        |FROM f ORDER BY part_dir, file_id""".stripMargin,
    // relational replay of the map algebra (histogram as grouped rows)
    "q171_map_algebra" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_types,
        |  string_agg(event_type || ':' || cnt, ',' ORDER BY event_type) AS counts_str,
        |  CAST(SUM(CASE WHEN cnt >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_frequent,
        |  CAST(COALESCE(MAX(CASE WHEN event_type = 'purchase' THEN cnt END), 0) AS BIGINT) AS n_purchases
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    // value-range trailing frame: ties share one frame in both engines
    "q168_range_frame" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |         CAST(floor(value * 100) AS BIGINT) AS vq FROM events)
        |SELECT event_id, user_id, ts_s, vq,
        |  COUNT(*) OVER win AS n_1h,
        |  CAST(SUM(vq) OVER win AS BIGINT) AS sum_vq_1h
        |FROM e
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts_s
        |               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // ntile + exact integer percent-rank over a unique total order
    "q169_ntile" ->
      """WITH e AS (
        |  SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |w AS (
        |  SELECT *, NTILE(4) OVER win AS quartile,
        |         ROW_NUMBER() OVER win AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e WINDOW win AS (PARTITION BY event_type ORDER BY vq, event_id))
        |SELECT event_id, event_type, vq, CAST(quartile AS BIGINT) AS quartile,
        |       CAST(((rn - 1) * 10000) // (n - 1) AS BIGINT) AS pr_bp
        |FROM w ORDER BY event_id""".stripMargin,
    // gap sessions replayed by hand: end = last event + gap
    "q170_native_session_window" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS ts_s,
        |         CAST(floor(value * 100) AS BIGINT) AS vq FROM events),
        |lagged AS (
        |  SELECT *, lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_ts
        |  FROM e),
        |numbered AS (
        |  SELECT *, SUM(CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM lagged)
        |SELECT user_id, MIN(ts_s) AS start_s, MAX(ts_s) + 1800 AS end_s,
        |       COUNT(*) AS n_events, CAST(SUM(vq) AS BIGINT) AS sum_vq
        |FROM numbered GROUP BY user_id, sess_no
        |ORDER BY user_id, start_s""".stripMargin,
    // per-column profile replay (UNION ALL is the naive twin of the
    // one-pass Expand aggregate)
    "q164_profile" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c,
        |         epoch_ns(o_orderdate) // 1000000000 // 86400 AS day_n,
        |         o_orderpriority
        |  FROM orders)
        |SELECT 'day_n' AS column_name, COUNT(*) - COUNT(day_n) AS n_nulls,
        |       COUNT(DISTINCT day_n) AS n_distinct,
        |       CAST(MIN(day_n) AS VARCHAR) AS min_s, CAST(MAX(day_n) AS VARCHAR) AS max_s FROM t
        |UNION ALL
        |SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'o_orderkey', COUNT(*) - COUNT(o_orderkey), COUNT(DISTINCT o_orderkey),
        |       CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
        |       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
        |       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM t
        |UNION ALL
        |SELECT 'price_c', COUNT(*) - COUNT(price_c), COUNT(DISTINCT price_c),
        |       CAST(MIN(price_c) AS VARCHAR), CAST(MAX(price_c) AS VARCHAR) FROM t
        |ORDER BY column_name""".stripMargin,
    // named constraint rows with exact violation counts
    "q165_dq_checks" ->
      """SELECT 'bad_status' AS check, CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
        |UNION ALL
        |SELECT 'dup_orderkeys', CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'li_orphan_orders', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'negative_prices', CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'null_custkeys', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) FROM orders
        |ORDER BY "check"""".stripMargin,
    // gap sessions + per-session first-3 path census
    "q162_session_paths" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_ns(ts) // 1000000000 AS ts_s FROM events),
        |lagged AS (
        |  SELECT *, lag(ts_s) OVER win AS prev_ts
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
        |numbered AS (
        |  SELECT *, SUM(CASE WHEN prev_ts IS NULL OR ts_s - prev_ts > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM lagged),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess_no ORDER BY ts_s, event_id) AS rn
        |  FROM numbered),
        |paths AS (
        |  SELECT user_id, sess_no,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM ranked WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path""".stripMargin,
    // each event replays into its 4 overlapping epoch-aligned hops
    "q154_hopping_windows" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000000000 AS ts_s, event_type,
        |         CAST(floor(value * 100) AS BIGINT) AS vq FROM events),
        |hop AS (
        |  SELECT ((ts_s // 900) - k.range) * 900 AS win_start_s, event_type, vq
        |  FROM e CROSS JOIN range(0, 4) k)
        |SELECT win_start_s, event_type, COUNT(*) AS n, CAST(SUM(vq) AS BIGINT) AS sum_vq
        |FROM hop GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // FULL RECOMPUTE over base ∪ delta: equality proves delta-merge ≡ rescan
    "q155_mv_maintain" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |         epoch_ns(o_orderdate) // 1000000000 // 86400 AS day_n, o_totalprice
        |  FROM orders),
        |allrows AS (
        |  SELECT status, day_n, o_totalprice FROM o
        |  UNION ALL
        |  SELECT status, day_n + 1, o_totalprice + 5.0 FROM o WHERE o_orderkey % 13 = 0)
        |SELECT status, day_n, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT) AS price_c
        |FROM allrows GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // SCD2 replay + key equi-join with validity-interval filter
    "q156_pit_join" ->
      """WITH dim0 AS (SELECT c_custkey AS key, c_mktsegment AS segment, c_acctbal AS bal FROM customer),
        |batch AS (
        |  SELECT key, segment || '_V2' AS segment, bal + 100.0 AS bal FROM dim0 WHERE key % 7 = 0
        |  UNION ALL
        |  SELECT key + 200000000, 'NEWSEG', 0.0 FROM dim0 WHERE key % 13 = 0),
        |scd AS (
        |  SELECT d.key, 1 AS version, CAST(1000000 AS BIGINT) AS valid_from_s,
        |         CAST(CASE WHEN b.key IS NULL THEN 253402300800 ELSE 2000000 END AS BIGINT) AS valid_to_s,
        |         d.segment
        |  FROM dim0 d LEFT JOIN batch b ON d.key = b.key
        |  UNION ALL
        |  SELECT b.key, CASE WHEN d.key IS NULL THEN 1 ELSE 2 END,
        |         CAST(2000000 AS BIGINT), CAST(253402300800 AS BIGINT), b.segment
        |  FROM batch b LEFT JOIN dim0 d ON d.key = b.key),
        |facts AS (SELECT o_orderkey AS fact_id, o_custkey AS key,
        |                 1000000 + (o_orderkey % 2000000) AS fact_ts FROM orders)
        |SELECT f.fact_id, f.key, f.fact_ts, CAST(s.version AS BIGINT) AS version, s.segment
        |FROM facts f JOIN scd s
        |  ON s.key = f.key AND f.fact_ts >= s.valid_from_s AND f.fact_ts < s.valid_to_s
        |ORDER BY fact_id""".stripMargin)
}
