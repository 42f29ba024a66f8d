package perfbench

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Run(val spark: SparkSession, val corpus: Corpus, val seed: Long,
    val seconds: Int, val work: java.io.File, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Spark scheduler counters: registered only for the traced run. */
  val counters: Option[SparkCounters] =
    if (tracer.enabled) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
  /** ops checked so far (warm-up included) and the ones that failed. */
  var attempted = 0
  val failures: scala.collection.mutable.LinkedHashMap[Int, String] = scala.collection.mutable.LinkedHashMap.empty

  /** Start checking the next op. */
  def beginOp(): Unit = attempted += 1

  /** Record one check made outside the timers; a mismatch fails the op. */
  def check(what: => String)(ok: Boolean): Unit =
    if (!ok) {
      val w = what
      failures.getOrElseUpdate(attempted, w)
      System.err.println(s"[perfbench] MISMATCH $w")
    }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def cost[A](body: => A): (A, Cost) = {
    val c0 = Jvm.threadCpuNs()
    val (a, wallMs) = time(body)
    (a, Cost(wallMs, Jvm.cpuBetween(c0, Jvm.threadCpuNs()) / 1e6))
  }

  def dir(name: String): String = new java.io.File(work, name).getAbsolutePath
}

/** One op's wall-clock time and the CPU time the JVM spent on it, ms.
  * The CPU time sums every thread of the process but the JIT compiler's
  * (the client, Spark's driver and task threads, GC) and leaves out time
  * the host of a VM gave to other guests: it is the work the op cost,
  * which the speed of a shared machine moves far less than it moves the
  * wall clock (README.md). */
final case class Cost(wallMs: Double, cpuMs: Double)

/** A workload's measured outcome. End-to-end metrics are printed for
  * the untraced run, per-layer metrics for the traced one. */
final case class Outcome(endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)], detail: Seq[(String, String)])

object Main {
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Spark on every core, its scratch files under `work`. */
  private def session(work: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("dlx-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new java.io.File(opts.getOrElse("work", sys.error("--work required")))
    opts.get("make-corpus").foreach { f =>
      // once per build, in a JVM of its own: the corpus does not depend
      // on the seed, and the Spark state generating it leaves behind would
      // weigh on that run's heap figure
      val spark = session(work)
      try Corpus.save(Corpus.generate(spark), new java.io.File(f)) finally spark.stop()
      sys.exit(0)
    }
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    require(Set("search", "catalog").contains(workload), s"unknown workload $workload")
    val corpus = Corpus.read(new java.io.File(opts.getOrElse("corpus", sys.error("--corpus required"))))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def since(ms: Long): String = f"${(System.currentTimeMillis() - ms) / 1000.0}%.1f"
    val spark = session(work)
    graft.Bench.silenceTeardownNoise()
    val code =
      try {
        val sessionAt = since(jvmStart)
        val t1 = System.currentTimeMillis()
        val run = new Run(spark, corpus, seed, seconds, work, new Tracer(trace))
        val out = workload match {
          case "search" => SearchWorkload.run(run)
          case "catalog" => CatalogWorkload.run(run)
        }
        opts.get("spans").filter(_ => trace).foreach(p => run.tracer.write(java.nio.file.Paths.get(p)))
        println(s"# phases_s: jvm+spark $sessionAt, workload ${since(t1)}")
        out.detail.foreach { case (k, v) => println(s"# $k: $v") }
        val metrics = if (trace) out.perLayer else out.endToEnd
        metrics.foreach { case (k, v, u) => println(s"# $k = ${fmt(v)} $u") }
        run.failures.foreach { case (op, f) => println(s"# FAILED op $op: $f") }
        val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
        println(s"""{"correct": ${run.failures.isEmpty}, "attempted": ${math.max(run.attempted, 1)}, """ +
          s""""failed": ${run.failures.size}, "metrics": {${body.mkString(", ")}}}""")
        if (run.failures.isEmpty) 0 else 3
      } finally spark.stop()
    sys.exit(code)
  }
}
