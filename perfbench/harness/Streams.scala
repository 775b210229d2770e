package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.jobs.{IngestPipeline, OrderDashboard}
import graft.sinks.StoreRegistry
import graft.sources.OrderGen

/** The `stream-jobs` workload: both end-to-end streaming jobs.
  *
  * Ingest is an open loop. A generator thread moves pre-cut document
  * drops into the watched directory on a fixed schedule; the main
  * thread calls `IngestPipeline.run` every `ingest_period_s` from the
  * first landing on (at once when the previous run overran), and each
  * run drains whatever has landed. A drop's latency runs from its scheduled time to the end of
  * the first run that started after it became visible, because an
  * `AvailableNow` run only takes the files listed when it starts.
  *
  * The dashboard is a closed drain: `OrderDashboard.runGenerated` over
  * `orders` generated orders at a fixed batch size, run once, after the
  * first ingest run.
  *
  * Cold operations are the first ingest run (drop 0) and the drain;
  * the warm ones are the open-loop ingest runs. Checks compare the
  * sinks with the batch `q_funnel` / `q_curation` answers and an
  * `OrderGen.frame` aggregation, outside every timed region, as the
  * job specs do. */
object Streams {
  import Harness.{Ctx, nowMs}

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val nDrops = a("drops").toInt
    val period = a("ingest_period_s").toDouble
    val orders = a("orders").toLong
    val perBatch = a("rows_per_batch").toLong
    val staging = s"${ctx.out}/drops"
    val src = s"${ctx.out}/ingest-src"
    Files.createDirectories(Paths.get(src))
    val schema = spark.read.parquet(s"${ctx.data}/documents.parquet").schema
    val tag = s"s${ctx.seed}-${ProcessHandle.current().pid()}"
    val corpus = StoreRegistry.doc(s"corpus-$tag")
    val funnel = StoreRegistry.kv(s"funnel-$tag")
    val batches = new BatchLog
    spark.streams.addListener(batches)
    def dropName(i: Int) = f"drop-$i%03d.parquet"
    def land(i: Int): Unit = Files.move(Paths.get(staging, dropName(i)),
      Paths.get(src, dropName(i)), StandardCopyOption.ATOMIC_MOVE)

    def op(label: String, name: String, kind: String)(body: => Int): mutable.Map[String, Any] = {
      val tr = ctx.tracer
      val span = tr.map { t => val s = t.open(ctx.workloadSpan, kind, name); t.beginOp(label, s); s }
      val t0 = nowMs
      var err: String = null
      try {
        val restarts = body
        if (restarts != 0) err = s"$restarts restarts"
      } catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val t1 = nowMs
      val row = mutable.Map[String, Any]("pass" -> label.takeWhile(_ != '/'), "op" -> name,
        "kind" -> kind, "traced" -> tr.isDefined, "wall_s" -> (t1 - t0) / 1e3,
        "ok" -> (err == null), "error" -> err, "start_ms" -> t0, "end_ms" -> t1)
      tr.foreach { t =>
        t.sync()
        span.foreach(t.close)
        row ++= Harness.layerFields(t, label, t0, t1, ctx.cores).map { case (k, v) => s"layer.$k" -> v }
        t.endOp()
      }
      ctx.ledger += row
      row
    }

    def ingest() = IngestPipeline.run(spark, src, schema, corpus, funnel,
      s"${ctx.out}/ingest-ck", maxRestarts = 0)
    def drain(label: String, store: String) = OrderDashboard.runGenerated(spark,
      StoreRegistry.kv(store), s"${ctx.out}/dash-ck-$label", maxOrders = orders,
      rowsPerBatch = perBatch, maxRestarts = 0)

    // cold: the first ingest run (drop 0) and the one dashboard drain
    land(0)
    op("cold/ingest", "ingest-run-0", "ingest_run")(ingest())
    op("cold/dashboard", "dashboard-drain", "dashboard_drain")(drain("cold", s"dash-cold-$tag"))
    ctx.tracer.foreach { t =>
      // tracing overhead: two more (warm) drains, untraced then traced
      def timed(label: String): Double = {
        val u0 = nowMs
        drain(label, s"dash-$label-$tag")
        (nowMs - u0) / 1e3
      }
      t.detach()
      val untraced = timed("untraced")
      t.attach()
      ctx.extra("trace_overhead_s") = timed("traced") - untraced
      ctx.extra("trace_overhead_base_s") = untraced
    }

    // warm: open-loop ingest of drops 1..n-1 over the run's seconds
    val interval = ctx.seconds / math.max(nDrops - 1, 1)
    val t0 = nowMs
    val due = (1 until nDrops).map(i => i -> (t0 + (i - 1) * interval * 1e3)).toMap
    val visible = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val gen = new Thread(() => {
      (1 until nDrops).foreach { i =>
        val wait = due(i) - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(i)
        visible.put(i, nowMs)
      }
    }, "drop-generator")
    gen.setDaemon(true)
    gen.start()
    val admittedBy = mutable.Map.empty[Int, Double]
    var runNo = 0
    while (admittedBy.size < nDrops - 1) {
      val tick = t0 + (runNo + 1) * period * 1e3
      val wait = tick - nowMs
      if (wait > 0) Thread.sleep(wait.toLong)
      runNo += 1
      val snapshot = visible.keySet().toArray.map(_.asInstanceOf[Int]).filterNot(admittedBy.contains)
      val row = op(s"warm/ingest-$runNo", s"ingest-run-$runNo", "ingest_run")(ingest())
      row("drops") = snapshot.length
      snapshot.foreach(i => admittedBy(i) = row("end_ms").asInstanceOf[Double])
      if (runNo > 10 * nDrops) throw new IllegalStateException("ingest loop did not drain the drops")
    }
    gen.join()
    (1 until nDrops).foreach { i =>
      ctx.ledger += mutable.Map[String, Any]("pass" -> "warm", "op" -> f"drop-$i%03d",
        "kind" -> "drop", "traced" -> ctx.tracer.isDefined,
        "latency_s" -> (admittedBy(i) - due(i)) / 1e3,
        "generator_lag_s" -> (visible.get(i) - due(i)) / 1e3, "ok" -> true)
    }

    // ---- checks (untimed) ----
    ctx.markPeak()
    val checksStart = nowMs
    val checks = mutable.Map.empty[String, Any]
    import spark.implicits._
    val funnelWant = graft.SparkEntry.queries("q_funnel")(spark, ctx.data)
    val curation = graft.SparkEntry.queries("q_curation")(spark, ctx.data)
    val want = funnelWant.select($"source", $"n_raw", $"n_quality", $"n_gated", $"n_unique")
      .as[(String, Long, Long, Long, Long)].collect()
    val funnelBad = want.filterNot { case (s, r, q, g, _) => funnel.get(s).contains(s"$r|$q|$g") }
    val keepers = curation.select($"doc_id".as[Long]).collect().toSet
    val byHash = spark.read.parquet(s"${ctx.data}/documents.parquet")
      .withColumn("h", md5(lower(trim($"text"))))
      .select($"h", $"doc_id").as[(String, Long)].collect().groupBy(_._1)
    var corpusBad = 0
    for ((h, rows) <- byHash if rows.exists(r => keepers.contains(r._2))) {
      val winner = rows.map(_._2).filter(keepers.contains).min
      if (!corpus.get(h).exists(_("doc_id") == winner.toString)) corpusBad += 1
    }
    if (corpus.size != keepers.size) corpusBad += math.abs(corpus.size - keepers.size)
    checks("ingest_ok") = funnelBad.isEmpty && corpusBad == 0 && want.nonEmpty
    checks("ingest_detail") = s"funnel mismatches ${funnelBad.length}, corpus mismatches $corpusBad"

    val batch = OrderGen.frame(spark, orders)
    val day = window(col("ts"), "1 day")("start")
    val wantDash = batch.groupBy(day.as("d"), col("province"))
      .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m")).collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}" -> s"${r.getLong(2)}|${r.getLong(3)}") ++
      batch.groupBy(day.as("d"))
        .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m")).collect()
        .map(r => s"${r.get(0)}" -> s"${r.getLong(1)}|${r.getLong(2)}")
    val dash = StoreRegistry.kv(s"dash-cold-$tag")
    checks("dashboard_ok") = wantDash.nonEmpty &&
      wantDash.forall { case (k, v) => dash.get(k).contains(v) } && dash.size == wantDash.length
    checks("seconds") = (nowMs - checksStart) / 1e3
    ctx.extra("checks") = checks
    ctx.extra("sinks") = Map("kv_keys" -> (funnel.size + dash.size), "doc_count" -> corpus.size)
    ctx.extra("orders") = orders
    ctx.extra("docs") = byHash.valuesIterator.map(_.length).sum
    spark.streams.removeListener(batches)
    val ops = ctx.ledger.filter(_.contains("start_ms"))
    ctx.extra("progress") = batches.synchronized(batches.log.toSeq).map { p =>
      // a micro-batch belongs to the operation whose window holds its start
      val owner = ops.find(r => r("start_ms").asInstanceOf[Double] <= p.startMs &&
        p.startMs <= r("end_ms").asInstanceOf[Double])
      ctx.tracer.foreach { t =>
        val parent = owner.flatMap(r => t.spans.find(s => s.kind == r("kind") &&
          s.start <= p.startMs && p.startMs <= s.end)).map(_.id).getOrElse(ctx.workloadSpan)
        t.synchronized {
          t.spans += Span(t.spans.size, parent, "micro_batch", "micro-batch", p.startMs,
            p.startMs + p.durations.getOrElse("triggerExecution", 0.0))
        }
      }
      Map("op" -> owner.map(r => s"${r("pass")}/${r("op")}").orNull, "start_ms" -> p.startMs,
        "durations" -> p.durations, "input_rows" -> p.inputRows, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes, "watermark_lag_s" -> p.watermarkLagS)
    }
  }
}

/** Streaming progress as the benchmark keeps it. */
final case class Progress(startMs: Double, durations: Map[String, Double],
    inputRows: Long, stateRows: Long, stateBytes: Long, watermarkLagS: Double)

/** Spark's own per-micro-batch progress, kept for the batch-time
  * metrics; Spark computes these reports whether or not anyone listens. */
final class BatchLog extends StreamingQueryListener {
  val log: mutable.ArrayBuffer[Progress] = mutable.ArrayBuffer.empty
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val ev = p.eventTime.asScala
    // the watermark reads as the epoch until the first batch sets it
    val lag = (for (mx <- ev.get("max"); wm <- ev.get("watermark") if Tracer.isoMs(wm) > 0)
      yield (Tracer.isoMs(mx) - Tracer.isoMs(wm)) / 1e3).getOrElse(0.0)
    val states = p.stateOperators.toSeq
    synchronized {
      log += Progress(Tracer.isoMs(p.timestamp), durations, p.numInputRows,
        states.map(_.numRowsTotal).sum, states.map(_.memoryUsedBytes).sum, lag)
    }
  }
}
