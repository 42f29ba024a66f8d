package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Engine-capability gates: the three physical-layout/runtime tricks a
  * 100 TB deployment lives on — bucketed co-located joins (no shuffle
  * at read time), partition-pruned scans (no bytes for filtered
  * partitions), and runtime bloom-filter join pruning (the probe side
  * never shuffles rows the build side will drop). Each is oracle-gated
  * on its RESULT (the optimization must not change the answer) and
  * plan-asserted on its MECHANISM in ExplainCheck.
  *
  * Layout artifacts (bucketed tables, partitioned dirs) are
  * materialized once per input dir under /tmp and reused — they're
  * immutable derived inputs, the moral equivalent of the source
  * parquet, not per-query state.
  */
object EngineOps {

  /** Cache key for derived layout artifacts: path PLUS a content
    * fingerprint (name/size/mtime of every file under the source dir),
    * so regenerating the source parquet at the same path invalidates
    * the derived bucketed/partitioned copies instead of silently
    * serving stale layouts. */
  private def keyOf(dir: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator.single(f)
    val sig = walk(new java.io.File(dir)).toSeq
      .sortBy(_.getPath)
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("|")
    val fp = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp
  }

  /** Completed-write guard: a bare dir-exists check would reuse a
    * partial dataset left by a crashed mid-write run forever. The
    * Hadoop committer writes `_SUCCESS` last, so its presence == the
    * write finished; anything else is rewritten (mode=overwrite). */
  private def complete(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").isFile

  /** Cloned session so layout/runtime conf never leaks into the other
    * gates (the q86 streaming-isolation discipline). */
  private def withConf(s: SparkSession)(conf: (String, String)*): SparkSession = {
    val ss = s.newSession()
    for ((k, v) <- s.conf.getAll)
      try ss.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    conf.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  // ---------------------------------------------------------------
  // q157 — bucketed co-located join (shuffle eliminated by layout)
  // ---------------------------------------------------------------

  /** Orders and lineitem both bucketed (and sorted) by the join key
    * into the same bucket count: the sort-merge join then reads
    * matching buckets directly — NO shuffle exchange on either side,
    * the layout paid the shuffle once at write time. This is the
    * co-located join strategy for any repeatedly-joined 100 TB fact
    * pair; broadcast is disabled in the cloned session so the plan
    * gate can assert the exchange-free SMJ rather than a small-data
    * broadcast accident. */
  def q157BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val ss = withConf(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val k = keyOf(dir)
    val (to, tl) = (s"graft_bkt_orders_$k", s"graft_bkt_lineitem_$k")
    val base = s"/tmp/graft_buckets_$k"
    if (!ss.catalog.tableExists(to))
      orders(ss, dir).write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(to)
    if (!ss.catalog.tableExists(tl))
      lineitem(ss, dir).write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(tl)
    ss.table(tl).join(ss.table(to), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(20,2)")).cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------
  // q158 — partition-pruned scan (bytes skipped by layout)
  // ---------------------------------------------------------------

  /** Events written partitionBy(day_n); a 7-day literal filter then
    * prunes 23 of the 30 day partitions AT PLANNING TIME — the scan
    * never opens the other files. Hive-style date partitioning is the
    * first line of defense for any time-filtered query over 100 TB of
    * event data; the plan gate asserts the pruning actually happened
    * (PartitionFilters + pruned partition count), this gate asserts
    * pruning didn't change the answer. */
  def q158PartitionPruned(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_part_events_${keyOf(dir)}"
    if (!complete(base))
      events(s, dir)
        .withColumn("day_n", expr("cast(ts as long) div 86400"))
        .write.mode("overwrite").partitionBy("day_n").parquet(base)
    s.read.parquet(base)
      .where(col("day_n") >= 19730 && col("day_n") < 19737)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100)).as("sum_vq"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q159 — runtime bloom-filter join pruning
  // ---------------------------------------------------------------

  /** Catalyst's InjectRuntimeFilter: the selective orders side builds
    * a bloom filter at runtime that is pushed into the lineitem side
    * BEFORE its shuffle, so ~4/5 of the probe rows never cross the
    * wire. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling only the rows that can match.
    * Size thresholds are relaxed in the cloned session (the mechanism
    * is scale-independent; the default 10 GB application-side floor
    * just reflects when it's worth it); broadcast is disabled so the
    * filter has a shuffle to save. */
  def q159RuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val ss = withConf(s)(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val sel = orders(ss, dir).where(col("o_orderpriority") === "1-URGENT")
    lineitem(ss, dir).join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------
  // q166 — schema-evolution read (mergeSchema)
  // ---------------------------------------------------------------

  /** Schema evolution: two parquet batches of the same logical table,
    * the newer one carrying an added column, read back as ONE frame
    * with `mergeSchema` — old rows surface NULL for the new column
    * and every aggregate keeps working. This is how a 100 TB table
    * absorbs a schema change without rewriting history; the gate
    * proves old-batch rows (null-filled) and new-batch rows aggregate
    * to exactly the recomputed truth. */
  def q166SchemaMerge(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_schema_merge_${keyOf(dir)}"
    // b2 is written LAST: its marker implies the whole pair completed
    if (!complete(s"$base/b1") || !complete(s"$base/b2")) {
      val o = orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).as("price_c"))
      o.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$base/b1")
      o.where(col("o_orderkey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$base/b2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        count(col("price_c")).as("n_with_price"),
        sum(coalesce(col("price_c"), lit(0L))).as("sum_price_c"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------
  // q167 — manual salted skew join
  // ---------------------------------------------------------------

  /** Salting, the manual skew-join technique (complementing AQE's
    * runtime skew-join handling): a deliberately hot fact
    * key (~30% of orders collapse onto customer 0) joins the customer
    * dimension after the fact side fans its hot key across 16 salt
    * values and the dimension replicates 16× — the one hot hash
    * bucket becomes 16 even ones BY CONSTRUCTION, no runtime
    * detection needed. The dimension-side explode is the cost: 16×
    * a dimension is nothing; 16× a fact would be the wrong side.
    * Oracle = the plain unsalted join, so the rewrite is provably
    * answer-preserving. */
  def q167SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val salts = 16
    val fact = orders(s, dir).select(
      when(col("o_orderkey") % 10 < 3, 0L).otherwise(col("o_custkey")).as("k"),
      col("o_totalprice"),
      pmod(col("o_orderkey"), lit(salts.toLong)).as("salt"))
    val dim = customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
      .withColumn("salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    fact.join(dim, Seq("k", "salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,2)")).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q167_salted_join" -> (q167SaltedJoin _),
    "q166_schema_merge" -> (q166SchemaMerge _),
    "q157_bucketed_join" -> (q157BucketedJoin _),
    "q158_partition_pruned" -> (q158PartitionPruned _),
    "q159_runtime_filter" -> (q159RuntimeFilter _))

  val oracle: Map[String, String] = Map(
    // the UNSALTED join: salting must be answer-preserving
    "q167_salted_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN o_orderkey % 10 < 3 THEN 0 ELSE o_custkey END AS k, o_totalprice
        |  FROM orders)
        |SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM f JOIN customer ON k = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // old batch (even keys) has no price column → counts as NULL
    "q166_schema_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1
        |                THEN CAST(floor(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_price_c
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the co-located join must return exactly the plain join's answer
    "q157_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // pruning must not change the 7-day aggregate
    "q158_partition_pruned" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq
        |FROM events
        |WHERE epoch_ns(ts) // 1000000000 // 86400 BETWEEN 19730 AND 19736
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the bloom filter must be a pure optimization
    "q159_runtime_filter" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
