package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** The benchmark's JVM side: runs one workload against graft's public
  * entry points and writes `result.json` (set-up times, one ledger row
  * per operation, layer summaries) into the run directory. `run.py`
  * generates the inputs, checks answers against DuckDB and prints the
  * metrics.
  *
  * `--trace 0` attaches no listener: end-to-end numbers come from that
  * mode. `--trace 1` records spans and listener counters. */
object Harness {
  final case class Ctx(spark: SparkSession, tracer: Option[Tracer], data: String,
      out: String, seed: Long, seconds: Double, cores: Int, args: Map[String, String]) {
    val ledger: mutable.ArrayBuffer[mutable.Map[String, Any]] = mutable.ArrayBuffer.empty
    val extra: mutable.Map[String, Any] = mutable.Map.empty
    var workloadSpan: Int = -1
    /** Taken when the timed workload ends, before any answer check. */
    var peakRssMb: Double = Double.NaN
    def markPeak(): Unit = peakRssMb = Harness.peakRssMb()
  }

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  /** Set-up (session, input tables, one extension call) is repeated
    * this often; the median is reported. */
  private val Setups = 5

  def main(argv: Array[String]): Unit = {
    exitWithParent()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val tables = args("tables").split(",").toSeq
    val setupS = (1 to Setups).map { i =>
      val t0 = nowMs
      val s = session(args("out"), cores)
      tables.foreach(t => s.read.parquet(s"${args("data")}/$t.parquet").schema)
      s.sql("SELECT graft_norm2(array(1L, 2L, 3L))").collect()
      val dt = (nowMs - t0) / 1e3
      if (i < Setups) s.stop()
      dt
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (args("trace") == "1") Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, tracer, args("data"), args("out"), args("seed").toLong,
      args("seconds").toDouble, cores, args)
    tracer.foreach { t => t.attach(); ctx.workloadSpan = t.open(-1, "workload", args("workload")).id }
    args("kind") match {
      case "batch" => runBatch(ctx, args("queries").split(",").toSeq)
      case "stream" => Streams.run(ctx)
    }
    if (args.get("kernels").contains("1")) tracer.foreach(_ => Kernels.run(ctx))
    tracer.foreach { t =>
      t.sync()
      t.close(t.spans(ctx.workloadSpan))
      t.detach()
      ctx.extra("self_s") = Tracer.selfTimes(t.spans.toSeq)
      writeSpans(t, s"${ctx.out}/trace.jsonl")
    }
    val result = Map(
      "setup_s" -> setupS, "ledger" -> ctx.ledger, "extra" -> ctx.extra,
      "cores" -> cores, "jvm" -> jvmStats(), "peak_rss_mb" -> ctx.peakRssMb)
    Files.writeString(Paths.get(s"${ctx.out}/result.json"), Json(result))
    spark.stop()
  }

  /** The benchmark script waits for this JVM; if the script dies, do not
    * outlive it. */
  private def exitWithParent(): Unit = {
    val parent = ProcessHandle.current().parent()
    val watch = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(1000)
      Runtime.getRuntime.halt(3)
    }, "parent-watch")
    watch.setDaemon(true)
    watch.start()
  }

  def session(out: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()

  /** This process's peak resident set so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def jvmStats(): Map[String, Double] = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map("gc_s" -> gc, "heap_peak_mb" -> heapPeak)
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }
    Files.write(Paths.get(path), lines.asJava)
  }

  /** Order-insensitive fingerprint of a result: row count and the
    * wrapping sum of each row's string hash. */
  def fingerprint(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      sum += scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong * 0x9e3779b97f4a7c15L
    }
    s"${rows.length}:$sum"
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  // ---- materialize temp root: new entries = artifact builds ----

  private def materializeEntries(): Map[String, Long] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) return Map.empty
    val roots = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("graft-materialize-")).toSeq
    roots.flatMap(r => Files.list(r).iterator().asScala.toSeq)
      .map(p => p.toString -> dirBytes(p)).toMap
  }

  private def dirBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** Free whatever a query left cached, outside any timed region. */
  def resetSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Counters of one operation from the tracer, as ledger fields; the
    * gap and busy share are taken over [actionLo, actionHi]. */
  def layerFields(t: Tracer, op: String, actionLo: Double, actionHi: Double,
      cores: Int): Map[String, Any] = {
    val c = t.counters.get(op)
    val base = c.map(_.c.toMap).getOrElse(Map.empty[String, Double])
    val intervals = c.map(_.taskIntervals.toSeq).getOrElse(Nil)
    val span = math.max(actionHi - actionLo, 1e-9)
    val busy = intervals.map { case (a, b) => math.max(0.0, math.min(b, actionHi) - math.max(a, actionLo)) }.sum
    base ++ Map(
      "driver_gap_s" -> (span - Tracer.covered(intervals, actionLo, actionHi)) / 1e3,
      "core_busy_frac" -> busy / (span * cores))
  }

  // ---- batch workloads ----

  private def runBatch(ctx: Ctx, queries: Seq[String]): Unit = {
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val unknown = queries.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"${ctx.out}/oracle_sql.json"),
      Json(queries.map(q => q -> oracle.getOrElse(q, null)).toMap))
    val coldFp = mutable.Map.empty[String, String]
    val coldRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    def pass(label: String, order: Seq[String], traced: Boolean): Double = {
      val passSpan = ctx.tracer.filter(_ => traced).map(_.open(ctx.workloadSpan, "pass", label))
      var total = 0.0
      order.foreach { q =>
        resetSession(spark)
        val tr = ctx.tracer.filter(_ => traced)
        val before = if (tr.isDefined) materializeEntries() else Map.empty[String, Long]
        val opId = s"$label/$q"
        val opSpan = tr.map { t =>
          val s = t.open(passSpan.get.id, "query", q); t.beginOp(opId, s); s
        }
        spark.sparkContext.setJobGroup(opId, q, interruptOnCancel = false)
        val t0 = nowMs
        var t1 = t0
        var err: String = null
        var rows: Array[Row] = null
        var df: org.apache.spark.sql.DataFrame = null
        val planSpan = tr.map(t => t.open(opSpan.get.id, "plan_build", q))
        try {
          df = all(q)(spark, ctx.data)
          t1 = nowMs
          planSpan.foreach(s => tr.get.close(s))
          val actSpan = tr.map(t => t.open(opSpan.get.id, "action", q))
          try rows = df.collect()
          finally actSpan.foreach(s => tr.get.close(s))
        } catch {
          case NonFatal(e) =>
            err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            planSpan.filter(_.end.isNaN).foreach(s => tr.get.close(s))
            if (t1 == t0) t1 = nowMs
        }
        val t2 = nowMs
        spark.sparkContext.clearJobGroup()
        val wall = (t2 - t0) / 1e3
        total += wall
        val row = mutable.Map[String, Any]("pass" -> label, "op" -> q, "kind" -> "query",
          "traced" -> traced, "wall_s" -> wall, "plan_s" -> (t1 - t0) / 1e3,
          "action_s" -> (t2 - t1) / 1e3, "ok" -> (err == null), "error" -> err)
        if (rows != null) {
          val fp = fingerprint(rows)
          row("rows") = rows.length
          row("fp") = fp
          if (label == "cold") coldFp(q) = fp
          else row("same_as_cold") = coldFp.get(q).contains(fp)
        }
        tr.foreach { t =>
          t.sync()
          opSpan.foreach(t.close)
          row ++= layerFields(t, opId, t1, t2, ctx.cores).map { case (k, v) => s"layer.$k" -> v }
          if (df != null && rows != null) {
            val plan = df.queryExecution.executedPlan
            row("layer.plan_nodes") = PlanWalk.collectWithSubqueries(plan) { case p => p }.size
            row("layer.exchanges") = PlanWalk.collectWithSubqueries(plan) { case e: Exchange => e }.size
          }
          val after = materializeEntries()
          val fresh = after.keySet -- before.keySet
          row("layer.materialize_builds") = fresh.size
          row("layer.materialize_bytes") = fresh.toSeq.map(after).sum
          t.endOp()
        }
        if (label == "cold" && rows != null) coldRows(q) = (rows, df.schema)
        ctx.ledger += row
      }
      passSpan.foreach(s => ctx.tracer.get.close(s))
      total
    }

    val rng = new Random(ctx.seed)
    pass("cold", rng.shuffle(queries), traced = true)
    // The first pass after the cold one still runs a third to a half
    // slower than the later ones (JIT), so it is checked but not timed
    // as warm.
    pass("burn", rng.shuffle(queries), traced = false)
    // Warm passes until the run's measuring time is spent; at least
    // six, so the medians rest on six pass totals. A traced run
    // alternates untraced and traced passes, so the overhead compares
    // passes on both sides of each traced one.
    val warmStart = nowMs
    var lastPass = 0.0
    var k = 0
    while (k < 6 || (nowMs - warmStart) / 1e3 + lastPass <= ctx.seconds) {
      k += 1
      val traced = ctx.tracer.isDefined && k % 2 == 0
      lastPass = pass(s"warm$k", rng.shuffle(queries), traced)
    }
    ctx.markPeak()
    // the cold answers go to the oracle check; warm ones had to match them
    coldRows.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.out}/results/$q")
    }
  }
}
