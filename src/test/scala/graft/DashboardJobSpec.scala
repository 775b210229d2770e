package graft

import graft.jobs.OrderDashboard
import graft.sinks.{Sinks, StoreRegistry}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end flagship job (reference OrderAnalysy): file-sourced
  * order stream → dashboard aggregation → idempotent upsert store,
  * resumable across invocations via the checkpoint. */
class DashboardJobSpec extends SparkTestBase {
  import spark.implicits._

  test("order dashboard drains a backlog, upserts totals, and resumes incrementally") {
    val src = tmpDir("dashsrc")
    val ck = tmpDir("dashck")
    val store = StoreRegistry.kv("dashjob")
    def t(s: Long) = new Timestamp(s * 1000L)

    Seq((t(100), "zhejiang", 10.5), (t(200), "shanghai", 2.0))
      .toDF("ts", "province", "amount").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    assert(noQueryOutlives(OrderDashboard.run(spark, src, schema, store, ck)) == 0) // no restarts needed
    // per-province totals (reference GroupDataFuc)
    assert(store.get("1970-01-01 00:00:00.0|zhejiang").contains("1|1050"))
    assert(store.get("1970-01-01 00:00:00.0|shanghai").contains("1|200"))
    // site-wide totals (reference TotalDataFun — the headline number)
    assert(store.get("1970-01-01 00:00:00.0").contains("2|1250"))

    // new orders land; a re-run processes ONLY them and upserts totals
    Seq((t(300), "zhejiang", 1.0))
      .toDF("ts", "province", "amount").write.mode("append").parquet(src)
    noQueryOutlives(OrderDashboard.run(spark, src, schema, store, ck))
    assert(store.get("1970-01-01 00:00:00.0|zhejiang").contains("2|1150"))
    assert(store.get("1970-01-01 00:00:00.0|shanghai").contains("1|200"))
    assert(store.get("1970-01-01 00:00:00.0").contains("3|1350"))
    StoreRegistry.clear("dashjob")
  }

  test("generated-source dashboard equals a batch aggregation of the same rows") {
    // the reference's own topology end to end: custom source
    // (OrderAnalysy.scala:338 OrderSource, here the DataSourceV2
    // micro-batch generator) → windowed totals → upsert store. The
    // generator is a pure function of the order index, so the batch
    // frame over the same index range is an exact oracle.
    import graft.sources.OrderGen
    val ck = tmpDir("gendashck")
    val store = StoreRegistry.kv("gendash")
    val n = 1000L
    // rowsPerBatch 300 < n forces a multi-batch AvailableNow drain —
    // the admission-control path, not a single-batch special case
    assert(noQueryOutlives(OrderDashboard.runGenerated(spark, store, ck,
      maxOrders = n, rowsPerBatch = 300L)) == 0)

    val batch = OrderGen.frame(spark, n)
    val wantProv = batch
      .groupBy(window(col("ts"), "1 day")("start").as("order_day"), col("province"))
      .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m"))
      .collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}" -> s"${r.getLong(2)}|${r.getLong(3)}")
      .toMap
    val wantTotal = batch
      .groupBy(window(col("ts"), "1 day")("start").as("order_day"))
      .agg(count(lit(1)).as("n"), graft.Det.sumFixed(col("amount"), 2).as("m"))
      .collect()
      .map(r => s"${r.get(0)}" -> s"${r.getLong(1)}|${r.getLong(2)}")
      .toMap
    assert(wantProv.nonEmpty && wantTotal.nonEmpty)
    for ((k, v) <- wantProv)
      assert(store.get(k).contains(v), s"province key $k: ${store.get(k)} vs $v")
    for ((k, v) <- wantTotal)
      assert(store.get(k).contains(v), s"total key $k: ${store.get(k)} vs $v")
    // the six reference provinces all appear (北京 double-weighted)
    val provs = wantProv.keySet.map(_.split('|').last)
    assert(provs == OrderGen.Provinces.toSet,
      s"generated provinces $provs must cover the reference list")

    // replay idempotence: a fresh run over the SAME checkpoint adds
    // nothing (the source is fully drained and replay-stable)
    assert(noQueryOutlives(OrderDashboard.runGenerated(spark, store, ck,
      maxOrders = n, rowsPerBatch = 300L)) == 0)
    for ((k, v) <- wantTotal)
      assert(store.get(k).contains(v), s"replay must not double-count $k")
    StoreRegistry.clear("gendash")
  }

  test("admission control drains a 2000-order backlog in bounded batches at 8 partitions") {
    // the DataSourceV2 generator under backlog: 2000 rows behind a
    // 600-row admission cap at 8 partitions must drain under
    // Trigger.AvailableNow in ceil(2000/600) = 4 micro-batches, every
    // batch within the cap and planned 8 ways — admission control
    // (bounded state growth) and partition fan-out observed together
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.Readers
    val ck = tmpDir("admission8ck")
    val batches = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val q = Readers.orderStream(spark, maxOrders = 2000L,
        rowsPerBatch = 600L, numPartitions = 8)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += ((df.count(), df.rdd.getNumPartitions))
        ()
      }
      .start()
    q.awaitTermination()
    assert(batches.map(_._1).sum == 2000L, s"drain must be complete: $batches")
    assert(batches.size >= 3, s"backlog must drain across batches: $batches")
    assert(batches.forall(_._1 <= 600L),
      s"every batch must respect the admission cap: $batches")
    assert(batches.forall(b => b._1 == 0L || b._2 == 8),
      s"every non-empty batch must plan 8 partitions: $batches")

    // ReadLimit composition folds to the tightest max (the engine's
    // conjunction semantics), all-available lifts the cap, and the
    // default limit composes min+max when minRowsPerBatch is set
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{OrderMicroBatchStream, OrderOffset}
    val s = new OrderMicroBatchStream(2000L, 500L, 8, 0L,
      minRowsPerBatch = 100L, maxTriggerDelayMs = 1000L)
    def end(from: Long, lim: ReadLimit): Long =
      s.latestOffset(OrderOffset(from), lim).asInstanceOf[OrderOffset].n
    assert(end(0L, ReadLimit.allAvailable()) == 2000L)
    assert(end(0L, ReadLimit.maxRows(300L)) == 300L)
    assert(end(1900L, ReadLimit.maxRows(300L)) == 2000L)
    assert(end(0L, ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(100L, 1000L), ReadLimit.maxRows(300L)))) == 300L)
    // bare min-rows is a trigger floor, not a cap: once satisfiable
    // the batch admits the per-batch default (500), or the floor
    // itself when the floor exceeds the default
    assert(end(0L, ReadLimit.minRows(100L, 1000L)) == 500L)
    assert(end(0L, ReadLimit.minRows(800L, 1000L)) == 800L)
    assert(s.getDefaultReadLimit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.CompositeReadLimit])
    assert(s.planInputPartitions(OrderOffset(0L), OrderOffset(600L)).length == 8)
  }

  test("kafka sink options carry broker/topic and idempotence") {
    val opts = Sinks.kafkaSinkOptions("broker:9092", "dashboard")
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("topic") == "dashboard")
    assert(opts("kafka.enable.idempotence") == "true")
  }
}
