package graft

import graft.sinks.{KvStore, Sinks, StoreRegistry}
import graft.sources.Readers
import graft.streaming.Restarts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Restart strategies (reference CheckPointTest RestartStrategies):
  * a failing sink is retried with fixed delay or failure rate; the
  * checkpoint makes the retry resume, not reprocess. */
class RestartSpec extends SparkTestBase {
  import spark.implicits._

  /** A source dir holding one parquet drop per (k, v) row. */
  private def drops(prefix: String, rows: (String, Long)*): String = {
    val dir = tmpDir(prefix)
    rows.foreach(r => Seq(r).toDF("k", "v").write.mode("append").parquet(dir))
    dir
  }

  /** k → sum(v) over `src`, one file per micro-batch, upserted into
    * `store`; the sink throws on every attempt for which `fails()`
    * holds. */
  private def sums(src: String, ck: String, store: KvStore,
      trigger: Trigger = Trigger.AvailableNow())(fails: () => Boolean): StreamingQuery =
    Readers.fileStream(spark, src, spark.read.parquet(src).schema, maxFilesPerTrigger = 1)
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .writeStream
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (fails()) sys.error("sink failure")
        Sinks.kvUpsert(store, "k", "total")(batch)
      }
      .trigger(trigger)
      .start()

  private def mentions(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains(msg))

  test("fixedDelay restarts a failing query until it succeeds, exactly-once") {
    val src = drops("rssrc", ("a", 1L), ("b", 10L))
    val ck = tmpDir("rsck")
    val store = StoreRegistry.kv("rs")
    val failures = new AtomicInteger(2) // first two micro-batch attempts die
    val restarts = Restarts.fixedDelay(maxRestarts = 5, delayMs = 50) { () =>
      sums(src, ck, store)(() => failures.getAndDecrement() > 0)
    }
    assert(restarts == 2, s"expected 2 restarts, got $restarts")
    assert(store.get("a").contains("1") && store.get("b").contains("10"))
    StoreRegistry.clear("rs")
  }

  test("fixedDelay surfaces the failure once attempts are exhausted") {
    val srcDir = tmpDir("rssrc2")
    Seq(("a", 1L)).toDF("k", "v").write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val e = intercept[Exception] {
      Restarts.fixedDelay(maxRestarts = 1, delayMs = 10) { () =>
        Readers.fileStream(spark, srcDir, schema)
          .writeStream
          .option("checkpointLocation", tmpDir("rsck2"))
          .foreachBatch((_: DataFrame, _: Long) => sys.error("permanent failure"))
          .trigger(Trigger.AvailableNow())
          .start()
      }
    }
    assert(e.getMessage.contains("permanent failure") || e.getCause != null)
  }

  test("fixedDelay runs two queries concurrently, each on its own restart budget, exactly-once") {
    val okSrc = drops("rsok", ("a", 1L), ("a", 2L))
    val flakySrc = drops("rsflaky", ("b", 10L), ("b", 20L))
    val ok = StoreRegistry.kv("rsok")
    val flaky = StoreRegistry.kv("rsflaky")
    val okCk = tmpDir("rsokck")
    val flakyCk = tmpDir("rsflakyck")
    val failures = new AtomicInteger(2)
    val restarts = noQueryOutlives(Restarts.fixedDelay(maxRestarts = 2, delayMs = 50)(
      () => sums(okSrc, okCk, ok)(() => false),
      () => sums(flakySrc, flakyCk, flaky)(() => failures.getAndDecrement() > 0)))
    assert(restarts == 2, s"expected 2 restarts, got $restarts")
    assert(ok.get("a").contains("3") && ok.size == 1)
    assert(flaky.get("b").contains("30") && flaky.size == 1)
    StoreRegistry.clear("rsok"); StoreRegistry.clear("rsflaky")
  }

  test("fixedDelay: a query out of restarts stops its sibling, rethrows, and a rerun resumes") {
    val okSrc = drops("rsok2", ("a", 1L), ("a", 2L))
    val badSrc = drops("rsbad", ("b", 10L))
    val okCk = tmpDir("rsok2ck")
    val badCk = tmpDir("rsbadck")
    val ok = StoreRegistry.kv("rsok2")
    val bad = StoreRegistry.kv("rsbad")
    val broken = new AtomicBoolean(true)
    val e = intercept[Exception] {
      Restarts.fixedDelay(maxRestarts = 1, delayMs = 10)(
        // never terminates by itself: only the sibling's failure ends it
        () => sums(okSrc, okCk, ok, Trigger.ProcessingTime(0))(() => false),
        () => sums(badSrc, badCk, bad)(() => broken.get))
    }
    assert(mentions(e, "sink failure"), s"unexpected failure $e")
    assert(spark.streams.active.isEmpty,
      s"queries outlived the call: ${spark.streams.active.map(_.id).mkString(", ")}")

    // the checkpoints are free again: a rerun resumes both queries
    broken.set(false)
    assert(noQueryOutlives(Restarts.fixedDelay(maxRestarts = 1, delayMs = 10)(
      () => sums(okSrc, okCk, ok)(() => false),
      () => sums(badSrc, badCk, bad)(() => broken.get))) == 0)
    assert(ok.get("a").contains("3") && bad.get("b").contains("10"))
    StoreRegistry.clear("rsok2"); StoreRegistry.clear("rsbad")
  }

  test("failureRate keeps restarting while failures are spaced wider than the interval") {
    val src = drops("rsrate", ("a", 1L), ("b", 10L))
    val ck = tmpDir("rsrateck")
    val store = StoreRegistry.kv("rsrate")
    val failures = new AtomicInteger(3)
    // one failure allowed per 100 ms; the 300 ms delay spaces the three
    // failures wider than that, so none of them exhausts the window
    // (fixedDelay with maxRestarts = 1 would give up on the second)
    val restarts = Restarts.failureRate(maxFailures = 1, intervalMs = 100, delayMs = 300) { () =>
      sums(src, ck, store)(() => failures.getAndDecrement() > 0)
    }
    assert(restarts == 3, s"expected 3 restarts, got $restarts")
    assert(store.get("a").contains("1") && store.get("b").contains("10"))
    StoreRegistry.clear("rsrate")
  }

  test("failureRate rethrows a burst of more than maxFailures failures inside the interval") {
    val src = drops("rsburst", ("a", 1L))
    val ck = tmpDir("rsburstck")
    val attempts = new AtomicInteger(0)
    val e = intercept[Exception] {
      Restarts.failureRate(maxFailures = 2, intervalMs = 60000, delayMs = 10) { () =>
        sums(src, ck, StoreRegistry.kv("rsburst")) { () =>
          attempts.incrementAndGet(); true
        }
      }
    }
    assert(mentions(e, "sink failure"), s"unexpected failure $e")
    assert(attempts.get == 3, s"gives up on the third failure, saw ${attempts.get}")
    StoreRegistry.clear("rsburst")
  }
}
