package graft

import graft.queries.AnalyticsOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics for the q129-q133 analytics family: PageRank's
  * integer recurrence, SCD2 row emission, histogram quantile cutoffs,
  * the cross-multiplied z-test, and interval-join containment. */
class AnalyticsOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("pageRank: integer recurrence on a 3-node cycle reaches the fixed point") {
    import spark.implicits._
    // a → b → c → a: every node keeps outdeg 1, so ranks converge to
    // 150000 + 85% of the previous rank.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = AnalyticsOps.pageRank(edges, iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // replay the scalar recurrence
    var expect = 1000000L
    for (_ <- 1 to 5) expect = 150000L + (85L * expect) / 100L
    assert(r.values.toSet == Set(expect))
  }

  test("pageRank: driver-local and distributed regimes agree rank-for-rank") {
    import spark.implicits._
    // multigraph adversary: duplicate edges (outdeg counts edge ROWS,
    // and each duplicate contributes separately), a non-source sink
    // (9 receives mass but never ranks), an asymmetric cycle, a
    // null-src edge (spawns no node) and a null-dst edge (counts toward
    // its src's outdeg, its contribution lands nowhere)
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 9L), (3L, 9L),
      (null, 1L), (3L, null)
    ).toDF("src", "dst")
    def run(): Map[Long, Long] =
      AnalyticsOps.pageRank(edges, iterations = 4)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val local = run() // default cap (2M) >> 9 edges: local regime
    spark.conf.set("spark.graft.pagerank.localEdgeCap", "0")
    try {
      val dist = run() // cap 0: the distributed loop
      assert(local == dist)
      assert(local.keySet == Set(1L, 2L, 3L)) // sinks and null src never rank
    } finally spark.conf.unset("spark.graft.pagerank.localEdgeCap")
  }

  test("pageRank: a sink-free star splits rank by out-degree with integer div") {
    import spark.implicits._
    // hub 0 points at 1 and 2; both point back. outdeg(0)=2.
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val after1 = AnalyticsOps.pageRank(edges, iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // hub receives both leaves' full rank; leaves receive half the hub's
    assert(after1(0L) == 150000L + (85L * 2000000L) / 100L)
    assert(after1(1L) == 150000L + (85L * (1000000L / 2)) / 100L)
    assert(after1(1L) == after1(2L))
  }

  test("scd2Merge emits close+open for changed, open for unchanged and inserted") {
    import spark.implicits._
    val dim = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("key", "segment", "bal")
    val batch = Seq((2L, "B2", 120.0), (9L, "N", 0.0)).toDF("key", "segment", "bal")
    val out = AnalyticsOps.scd2Merge(dim, batch, t1 = 100L, t2 = 200L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toList
    assert(out == List(
      (1L, 1L, 100L, 253402300800L, "A"),   // unchanged stays open
      (2L, 1L, 100L, 200L, "B"),            // changed v1 closed at t2
      (2L, 2L, 200L, 253402300800L, "B2"),  // changed v2 open
      (9L, 1L, 200L, 253402300800L, "N"))) // insert opens at t2
  }

  test("histogramQuantiles picks the first bin whose cumulative covers the pct") {
    import spark.implicits._
    // 100 values 0..99 in one group, bin width 500 over vq=v*100:
    // bins 0..19, five values each. p50 → bin 9 (cum 50), p95 → bin 18,
    // p99 → bin 19.
    val vals = (0 until 100).map(v => ("g1", v * 100L)).toDF("g", "vq")
    val out = AnalyticsOps.histogramQuantiles(vals).collect().head
    assert(out.getAs[Long]("n_values") == 100L)
    assert(out.getAs[Long]("p50_vq") == 9L * 500)
    assert(out.getAs[Long]("p95_vq") == 18L * 500)
    assert(out.getAs[Long]("p99_vq") == 19L * 500)
  }

  test("rollingAnomalies flags only >3-sigma spikes with enough history") {
    import spark.implicits._
    // user 1: nine steady values then a spike; user 2: too little history
    val rows = (1L to 9L).map(i => (i, 1L, i * 10L, 100L)) ++
      Seq((10L, 1L, 100L, 100000L)) ++
      Seq((11L, 2L, 10L, 0L), (12L, 2L, 20L, 99999L))
    val ev = rows.toDF("event_id", "user_id", "ts_s", "vq")
    val out = AnalyticsOps.rollingAnomalies(ev).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L))
    val spike = out.head
    assert(spike.getAs[Long]("n_prev") == 9L && spike.getAs[Long]("mean_vq") == 100L)
  }

  test("rollingAnomalies: zero variance never divides by zero and flags any deviation") {
    import spark.implicits._
    val rows = (1L to 6L).map(i => (i, 1L, i * 10L, 500L)) :+ (7L, 1L, 70L, 501L)
    val out = AnalyticsOps.rollingAnomalies(rows.toDF("event_id", "user_id", "ts_s", "vq"))
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(7L)) // (nv-s)^2 > 0 = rhs
  }

  test("q134 rollup emits leaf, per-status and grand-total rows with ALL labels") {
    val out = AnalyticsOps.q134Rollup(spark, "/root/testdata/sf0.001").collect()
    val grand = out.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    val statusTotals = out.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(statusTotals.map(_.getAs[Long]("n_orders")).sum ==
      grand.head.getAs[Long]("n_orders"))
    // leaf rows sum to their status subtotal
    for (st <- statusTotals.map(_.getString(0))) {
      val leaves = out.filter(r => r.getString(0) == st && r.getString(1) != "ALL")
      assert(leaves.map(_.getAs[Long]("n_orders")).sum ==
        statusTotals.find(_.getString(0) == st).get.getAs[Long]("n_orders"))
    }
  }

  test("q135 pivot cells partition the per-priority counts") {
    val piv = AnalyticsOps.q135Pivot(spark, "/root/testdata/sf0.001").collect()
    val roll = AnalyticsOps.q134Rollup(spark, "/root/testdata/sf0.001").collect()
    for (r <- piv) {
      val total = r.getAs[Long]("n_f") + r.getAs[Long]("n_o") + r.getAs[Long]("n_p")
      val expect = roll.filter(x => x.getString(0) != "ALL" &&
        x.getString(1) == r.getString(0)).map(_.getAs[Long]("n_orders")).sum
      assert(total == expect, s"pivot row ${r.getString(0)} != rollup leaves")
    }
  }

  test("q137 unpivot emits one long row per (part, metric) with exact quantization") {
    val out = AnalyticsOps.q137Unpivot(spark, "/root/testdata/sf0.001")
    val n = out.count()
    val parts = queries.Tables.part(spark, "/root/testdata/sf0.001").count()
    assert(n == 2 * parts)
    // spot-check: metric label set and a size row's exact value
    val metrics = out.select("metric").distinct().collect().map(_.getString(0)).toSet
    assert(metrics == Set("size_q", "price_q"))
  }

  test("q138 cube grand total equals the ungrouped aggregate") {
    val out = AnalyticsOps.q138Cube(spark, "/root/testdata/sf0.001").collect()
    val grand = out.filter(r => r.getString(0) == "ALL" && r.getLong(1) == -1L)
    assert(grand.length == 1)
    val leaves = out.filter(r => r.getString(0) != "ALL" && r.getLong(1) != -1L)
    assert(leaves.map(_.getAs[Long]("n_cust")).sum == grand.head.getAs[Long]("n_cust"))
    // both one-dimension subtotal slices also sum to the grand total
    val segOnly = out.filter(r => r.getString(0) != "ALL" && r.getLong(1) == -1L)
    assert(segOnly.map(_.getAs[Long]("n_cust")).sum == grand.head.getAs[Long]("n_cust"))
  }

  test("gapFillDaily densifies missing days with 0 orders and carries revenue forward") {
    import spark.implicits._
    // status A: days 10 and 13 observed; 11-12 must appear with
    // n_orders=0 and day 10's price carried
    val daily = Seq(("A", 10L, 2L, 1000L), ("A", 13L, 1L, 700L))
      .toDF("status", "day_n", "n_orders", "price_q")
    val out = AnalyticsOps.gapFillDaily(daily)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(out == List(
      ("A", 10L, 2L, 1000L), ("A", 11L, 0L, 1000L),
      ("A", 12L, 0L, 1000L), ("A", 13L, 1L, 700L)))
  }

  test("entityMatch keeps the single best candidate per batch record") {
    import spark.implicits._
    val dim = Seq((1L, "Customer#000000012"), (2L, "Customer#000000021"),
      (3L, "Customer#000000099")).toDF("c_custkey", "c_name")
    // dirty "…21" is exact for key 2 (dist 0) and a transposition of
    // key 1 (dist 2): the window must pick the dist-0 match
    val dirty = Seq((12L, "Customer#000000021")).toDF("batch_key", "dirty_name")
    val out = AnalyticsOps.entityMatch(dim, dirty).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("matched_key") == 2L)
    assert(out.head.getAs[Long]("edit_dist") == 0L)
  }

  test("triangleCount finds each oriented triangle exactly once") {
    import spark.implicits._
    // K4 on {1,2,3,4} has 4 triangles; the dangling edge (4,5) adds none
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("u", "v")
    val out = AnalyticsOps.triangleCount(edges).collect().head
    assert(out.getAs[Long]("n_edges") == 7L)
    assert(out.getAs[Long]("n_triangles") == 4L)
  }

  test("ewmaSmooth halves weights per lag and adapts the divisor to short history") {
    import spark.implicits._
    val ev = Seq((1L, 1L, 10L, 100L), (2L, 1L, 20L, 200L), (3L, 1L, 30L, 50L))
      .toDF("event_id", "user_id", "ts_s", "vq")
    val out = AnalyticsOps.ewmaSmooth(ev).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("smooth_q")).toMap
    assert(out(1L) == 100L)                                   // no history: v itself
    assert(out(2L) == (16 * 200 + 8 * 100) / 24)              // one lag
    assert(out(3L) == (16 * 50 + 8 * 200 + 4 * 100) / 28)     // two lags
  }

  test("zSpread16 interleaves bits so zval locality follows both dimensions") {
    import spark.implicits._
    // interleave(3, 0) = 0b0101 = 5; interleave(0, 3) = 0b1010 = 10;
    // interleave(65535, 0) = 0x55555555
    val df = Seq((3L, 0L), (0L, 3L), (65535L, 0L)).toDF("x", "y")
    val out = df.select(AnalyticsOps.zSpread16(col("x"))
        .bitwiseOR(org.apache.spark.sql.functions.shiftleft(
          AnalyticsOps.zSpread16(col("y")), 1)).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(5L, 10L, 0x55555555L))
  }

  test("markovTransitions normalizes each row to ~10000 basis points") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "a", 10L), (2L, 1L, "b", 20L), (3L, 1L, "a", 30L), (4L, 1L, "a", 40L),
      (5L, 2L, "b", 10L), (6L, 2L, "a", 20L)).toDF("event_id", "user_id", "event_type", "ts_s")
    val out = AnalyticsOps.markovTransitions(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // transitions: u1: a→b, b→a, a→a; u2: b→a. From a: {b:1, a:1};
    // from b: {a:2}
    assert(out(("a", "a")) == (1L, 5000L))
    assert(out(("a", "b")) == (1L, 5000L))
    assert(out(("b", "a")) == (2L, 10000L))
  }

  test("skyline2d keeps the Pareto frontier, prunes dominated points across and within bins") {
    import spark.implicits._
    // (price, size): (100, 5) and (200, 9) are frontier; (300, 9) is
    // dominated cross-bin by (200, 9) [equal size, cheaper]; (150, 3)
    // dominated cross-bin; (100, 4) dominated WITHIN the same bin as
    // (100, 5); duplicates of a frontier point both survive
    val pts = Seq(
      (1L, 100L, 5L), (2L, 200L, 9L), (3L, 300L, 9L),
      (4L, 150L, 3L), (5L, 100L, 4L), (6L, 100L, 5L))
      .toDF("id", "price_q", "size_v")
    val out = AnalyticsOps.skyline2d(pts, binWidth = 100L)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 6L))
  }

  test("timeWeightedAvg weights each value by its holding interval") {
    import spark.implicits._
    // user 1: v=10 held 3s, v=20 held 1s, last value unweighted
    val ev = Seq((1L, 1L, 0L, 10L), (2L, 1L, 3L, 20L), (3L, 1L, 4L, 99L))
      .toDF("event_id", "user_id", "ts_s", "vq")
    val out = AnalyticsOps.timeWeightedAvg(ev).collect().head
    assert(out.getAs[Long]("n_intervals") == 2L)
    assert(out.getAs[Long]("total_dt") == 4L)
    assert(out.getAs[Long]("twa_q") == (10 * 3 + 20 * 1) / 4)
  }

  test("cdcApply keeps the latest version per key and drops delete tombstones") {
    import spark.implicits._
    val log = Seq(
      (1L, "I", 1L, 100L), (1L, "U", 2L, 150L),
      (2L, "I", 1L, 200L), (2L, "D", 2L, 0L),
      (3L, "I", 1L, 300L))
      .toDF("key", "op", "version", "price_q")
    val out = AnalyticsOps.cdcApply(log)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(out == List((1L, 2L, 150L), (3L, 1L, 300L)))
  }

  test("compactionPlan opens a new bin exactly when bytes-before crosses the target") {
    import spark.implicits._
    val files = Seq(("d1", 1L, 600000L), ("d1", 2L, 600000L), ("d1", 3L, 100000L),
      ("d2", 4L, 2500000L), ("d2", 5L, 100L))
      .toDF("part_dir", "file_id", "size_b")
    val out = AnalyticsOps.compactionPlan(files)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    // d1: file1 bin0 (0 before), file2 bin0 (600k before), file3 bin1 (1.2M)
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 1L)
    // d2: giant file opens bin0; next file starts past 2 targets -> bin2
    assert(out(4L) == 0L && out(5L) == 2L)
  }

  test("hopping window membership: an event lands in exactly size/slide windows") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3600L)))
      .toDF("ts")
    val wins = df.groupBy(window(col("ts"), "1 hour", "15 minutes")).count()
      .select(col("window.start").cast("long")).collect().map(_.getLong(0)).sorted
    assert(wins.toSeq == Seq(900L, 1800L, 2700L, 3600L))
  }

  test("mvMaintain merges counts and sums; delta-only and base-only keys both survive") {
    import spark.implicits._
    val base = Seq(("A", 10L, 2L, 1000L), ("B", 11L, 1L, 500L))
      .toDF("status", "day_n", "n_orders", "price_c")
    val delta = Seq(("A", 10L, 1L, 250L), ("C", 12L, 3L, 900L))
      .toDF("status", "day_n", "n_orders", "price_c")
    val out = AnalyticsOps.mvMaintain(base, delta)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(out == List(("A", 10L, 3L, 1250L), ("B", 11L, 1L, 500L), ("C", 12L, 3L, 900L)))
  }

  test("pitJoin picks the version valid at fact time, inclusive start, exclusive end") {
    import spark.implicits._
    val dim = Seq(
      (1L, 1L, 100L, 200L, "OLD"), (1L, 2L, 200L, 99999L, "NEW"))
      .toDF("key", "version", "valid_from_s", "valid_to_s", "segment")
    val facts = Seq((10L, 1L, 150L), (11L, 1L, 200L), (12L, 1L, 199L))
      .toDF("fact_id", "key", "fact_ts")
    val out = AnalyticsOps.pitJoin(facts, dim)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out == Map(10L -> "OLD", 11L -> "NEW", 12L -> "OLD"))
  }

  test("q153 hard negatives: positive shares the query label, negative never does") {
    val dir = "/root/testdata/sf0.001"
    val out = queries.VectorOps.q153HardNegatives(spark, dir).collect()
    assert(out.nonEmpty)
    val labels = queries.Tables.embeddings(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (r <- out) {
      val q = r.getAs[Long]("query_id")
      assert(labels(r.getAs[Long]("pos_id")) == labels(q))
      assert(labels(r.getAs[Long]("neg_id")) != labels(q))
      // the hardest positive is at least as similar as the hardest negative
      // is NOT guaranteed in general — but both scores must be valid cosines
      assert(math.abs(r.getAs[Long]("pos_cosq")) <= 10000L)
      assert(math.abs(r.getAs[Long]("neg_cosq")) <= 10000L)
    }
  }

  test("sessionPaths truncates at k steps, splits on the gap, and orders steps by time") {
    import spark.implicits._
    // user 1: 4 events in one session (path = first 3) then a gap
    // opens a new 1-event session
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "b", 10L), (3L, 1L, "c", 20L), (4L, 1L, "d", 30L),
      (5L, 1L, "e", 10000L)).toDF("event_id", "user_id", "event_type", "ts_s")
    val out = AnalyticsOps.sessionPaths(ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a>b>c" -> 1L, "e" -> 1L))
  }

  test("sessionConcurrency counts cross-user overlap with exact containment") {
    import spark.implicits._
    // user 1: one session [100, 200]; user 2 has events at 150 (inside)
    // and 5000 (outside). Bucket boundary crossing: session [3500, 3700]
    // spans two hour buckets but counts its own two events once each.
    val ev = Seq(
      (1L, 1L, 100L), (2L, 1L, 200L),
      (3L, 2L, 150L), (4L, 2L, 5000L),
      (5L, 3L, 3500L), (6L, 3L, 3700L)).toDF("event_id", "user_id", "ts_s")
    val out = AnalyticsOps.sessionConcurrency(ev)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_events"),
        r.getAs[Long]("n_concurrent"))).toList
    // user 1 session contains events 1,2,3 → 3; user 2 first session
    // [150,150] contains 3 (its own) → 1... plus event from user 1? none at 150.
    assert(out.contains((1L, 2L, 3L)))
    // user 3 session [3500,3700] crosses the 3600 bucket edge; its two
    // events are counted exactly once each (no double-count from the
    // two-bucket explode)
    assert(out.contains((3L, 2L, 2L)))
  }
}
