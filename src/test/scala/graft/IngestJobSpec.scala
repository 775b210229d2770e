package graft

import graft.jobs.IngestPipeline
import graft.sinks.StoreRegistry
import org.apache.spark.sql.functions._

/** End-to-end LLM-data ingest job (jobs.IngestPipeline): document
  * drops → gate flags → redaction → store-backed exact dedup →
  * curated-corpus DocStore + live funnel KvStore, resumable via the
  * checkpoint. The gates/redaction/dedup are the SAME stage
  * definitions the batch oracle queries run, so the strongest check
  * available is parity: the live store state after draining all
  * drops must equal the batch `q_funnel` / `q_pii_redact` answers
  * over the same documents. */
class IngestJobSpec extends SparkTestBase {
  // selective implicits: the graft package object already provides the
  // $ column interpolator; pulling in spark.implicits._ wholesale
  // would make $ ambiguous
  import spark.implicits.{localSeqToDatasetHolder, newLongEncoder,
    newStringEncoder, newProductEncoder}

  test("ingest job matches the batch funnel and corpus after draining doc-ordered drops") {
    val src = tmpDir("ingsrc")
    val ck = tmpDir("ingck")
    val corpus = StoreRegistry.doc("ingcorpus")
    val funnel = StoreRegistry.kv("ingfunnel")

    val docs = Tables.documents(spark, sf).orderBy($"doc_id")
    val ids = docs.select($"doc_id").as[Long].collect()
    val cut = ids(ids.length / 2)
    val schema = docs.schema

    // drop 1: the low-id half, in doc_id order (first-arrival dedup ≡
    // the batch min-doc_id keeper rule under ordered arrival)
    docs.filter($"doc_id" < cut).coalesce(1)
      .write.mode("append").parquet(src)
    assert(noQueryOutlives(IngestPipeline.run(spark, src, schema, corpus, funnel, ck)) == 0)
    val partialRaw = funnel.get(
      docs.select($"source").distinct().as[String].collect().sorted.head)
    assert(partialRaw.isDefined, "first drop must land funnel counters")

    // drop 2: the rest; the resumed run must process ONLY the new file
    docs.filter($"doc_id" >= cut).coalesce(1)
      .write.mode("append").parquet(src)
    assert(noQueryOutlives(IngestPipeline.run(spark, src, schema, corpus, funnel, ck)) == 0)

    // parity: live funnel counters ≡ the batch q_funnel stage counts
    val want = SparkEntry.queries("q_funnel")(spark, sf)
      .select($"source", $"n_raw", $"n_quality", $"n_gated", $"n_unique")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(want.nonEmpty)
    for ((source, nRaw, nQ, nG, _) <- want)
      assert(funnel.get(source).contains(s"$nRaw|$nQ|$nG"),
        s"funnel counters for $source: got ${funnel.get(source)}")

    // parity: corpus store ≡ the batch exact-dedup keeper set — one
    // entry per content hash of a gated doc, winner = min doc_id,
    // text = the q_pii_redact rewrite of that winner
    val gated = SparkEntry.queries("q_curation")(spark, sf)
    val keepers = gated.select($"doc_id".as[Long]).collect().toSet
    assert(corpus.size == keepers.size,
      s"corpus entries ${corpus.size} vs batch keepers ${keepers.size}")
    val red = SparkEntry.queries("q_pii_redact")(spark, sf)
      .select($"doc_id", $"red_text").as[(Long, String)].collect().toMap
    val byHash = Tables.documents(spark, sf)
      .withColumn("h", md5(lower(trim($"text"))))
      .select($"h", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1)
    var checked = 0
    for ((h, rows) <- byHash if rows.exists(r => keepers.contains(r._2))) {
      // the batch keeper is min over GATED docs of this hash — dup
      // docs can carry different lang metadata, so an ungated doc may
      // have a smaller id; compare against the q_curation keeper
      val winner = rows.map(_._2).filter(keepers.contains).min
      val stored = corpus.get(h)
      assert(stored.isDefined, s"hash $h missing from corpus store")
      assert(stored.get("doc_id") == winner.toString,
        s"hash $h stored ${stored.get("doc_id")}, want min-id $winner")
      assert(stored.get("red_text") == red(winner), s"hash $h text differs")
      checked += 1
    }
    assert(checked == keepers.size)

    // per-source unique counts ≡ q_funnel's n_unique (keeper-attributed)
    val storedBySource = byHash.keysIterator
      .flatMap(h => corpus.get(h).map(_("source"))).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((source, _, _, _, nUnique) <- want)
      assert(storedBySource.getOrElse(source, 0L) == nUnique,
        s"unique count for $source")

    StoreRegistry.clear("ingcorpus"); StoreRegistry.clear("ingfunnel")
  }

  test("crafted drops: gate rejects, redaction rewrites, duplicate collapses, replay is idempotent") {
    val src = tmpDir("ingsrc2")
    val ck = tmpDir("ingck2")
    val corpus = StoreRegistry.doc("ingcorpus2")
    val funnel = StoreRegistry.kv("ingfunnel2")

    val good = "the quick brown fox jumps over a lazy dog near a riverbank today"
    val pii = "contact alice@example.com about the quick brown fox and lazy dog story"
    Seq(
      (1L, good, "xx", "web", good.length.toLong),             // admitted
      (2L, "tiny doc", "xx", "web", 8L),                       // quality-gated out
      (3L, pii, "xx", "web", pii.length.toLong),               // admitted, redacted
      (4L, good, "xx", "mail", good.length.toLong)             // exact dup of 1 → dropped
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    assert(noQueryOutlives(IngestPipeline.run(spark, src, schema, corpus, funnel, ck)) == 0)
    assert(funnel.get("web").contains("3|2|2"))
    assert(funnel.get("mail").contains("1|1|1"))
    assert(corpus.size == 2, "doc 2 gated out, doc 4 deduped away")
    val hGood = spark.range(1).select(md5(lower(trim(lit(good))))).as[String].head
    val hPii = spark.range(1).select(md5(lower(trim(lit(pii))))).as[String].head
    assert(corpus.get(hGood).exists(d =>
      d("doc_id") == "1" && d("source") == "web"), "min-id winner keeps the dup slot")
    assert(corpus.get(hPii).exists(_("red_text").startsWith("contact <EMAIL> about")),
      "stored text must be the redacted rewrite")

    // replay: wipe the checkpoint so the SAME files reprocess — the
    // idempotent sinks must land the identical store state
    val ck2 = tmpDir("ingck2b")
    assert(noQueryOutlives(IngestPipeline.run(spark, src, schema, corpus, funnel, ck2)) == 0)
    assert(corpus.size == 2 && funnel.get("web").contains("3|2|2"))
    assert(corpus.get(hGood).exists(_("doc_id") == "1"))

    StoreRegistry.clear("ingcorpus2"); StoreRegistry.clear("ingfunnel2")
  }
}
