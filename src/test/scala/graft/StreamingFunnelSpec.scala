package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.CorpusPipeline
import graft.streaming.StreamingFunnel

/** The streaming twin of the corpus funnel (round-9 verdict task 6):
  * ingest -> language -> quality -> exact dedup -> near dedup against
  * the persisted indexes, composed as ONE foreachBatch program
  * ([[StreamingFunnel]]), driven over the sf0.01 documents corpus in 8
  * id-ordered micro-batches. Pins
  *
  *  1. RESULT PARITY: streamed survivors == the batch funnel
  *     ([[CorpusPipeline.prepare]]) on the same corpus — batch
  *     chopping is result-invisible;
  *  2. stage-count parity: per-batch stage totals sum to the batch
  *     funnel's frontier counts;
  *  3. LATENCY: per-batch wall time stays flat across batches (the
  *     cross-batch state is probed through persisted indexes, so work
  *     tracks the batch, not total history);
  *  4. a batch that throws after submitting its async index writes
  *     joins them before it returns, and its replay equals a clean
  *     run.
  */
class StreamingFunnelSpec extends SparkSpec {

  test("streamed funnel == batch funnel; per-batch latency flat") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").cache()
    val cfg = CorpusPipeline.Config()

    // batch reference: survivors + stage frontier counts in one action
    val (batchOut, metrics) = CorpusPipeline.prepareObserved(docs, cfg)
    val expected = batchOut.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val m = metrics()

    // 8 id-ordered arrival files (the backfill/ingest norm — see the
    // StreamingFunnel near-dedup parity note)
    val srcDir = Files.createTempDirectory("funnel-src").toString
    val ids = docs.select(min("doc_id"), max("doc_id")).collect()(0)
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val step = (hi - lo) / 8 + 1
    (0 until 8).foreach { i =>
      docs.where(col("doc_id") >= lo + i * step &&
          col("doc_id") < lo + (i + 1) * step)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }

    val indexDir = Files.createTempDirectory("funnel-idx").toString
    val survivorsDir = Files.createTempDirectory("funnel-out").toString
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[StreamingFunnel.BatchStats]
    val q = StreamingFunnel.attach(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      cfg, indexDir, survivorsDir,
      Files.createTempDirectory("funnel-ck").toString,
      s => stats.synchronized { stats += s })
    q.awaitTermination(600000)

    assert(stats.size == 8, s"expected 8 micro-batches, saw ${stats.size}")
    info(stats.sortBy(_.batchId)
      .map(s => s"b${s.batchId}: in=${s.nInput} lang=${s.nLang} " +
        s"qual=${s.nQuality} exact=${s.nExact} near=${s.nNear} ${s.ms}ms")
      .mkString("\n"))

    // 1. result parity
    val streamed = spark.read.parquet(survivorsDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == expected,
      s"streamed survivors diverge from the batch funnel — missing: " +
        s"${(expected -- streamed).toSeq.sorted.take(10)}; extra: " +
        s"${(streamed -- expected).toSeq.sorted.take(10)}")

    // 2. stage-count parity (id-ordered arrival => first-seen = min-id)
    assert(stats.map(_.nInput).sum == m("1_input"))
    assert(stats.map(_.nLang).sum == m("2_language"))
    assert(stats.map(_.nQuality).sum == m("3_quality"))
    assert(stats.map(_.nExact).sum == m("4_exact_dedup"))
    assert(stats.map(_.nNear).sum == m("5_near_dedup"))

    // 3. latency plateau: medians of thirds (the StreamingScaleSpec
    // protocol — deterministic counts above are the hard gate, the
    // wall-clock band is order-of-magnitude unless GRAFT_STRICT_TIMING)
    val ms = stats.sortBy(_.batchId).map(_.ms).toSeq
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val midMs = median(ms.slice(2, 5))
    val lastMs = median(ms.drop(5))
    val (factor, slack) =
      if (sys.env.contains("GRAFT_STRICT_TIMING")) (3L, 500L) else (10L, 2000L)
    assert(lastMs <= midMs * factor + slack,
      s"per-batch latency grew ${midMs}ms -> ${lastMs}ms — batch work " +
        "is scaling with total ingested history")
  }

  test("a failed batch joins its index writes; its replay equals a clean run") {
    val docs = Tables(spark, ScaleCorpus.sf001, "documents")
      .select("doc_id", "text", "lang", "source")
    val batches = Seq(docs.where(col("doc_id") < 250),
      docs.where(col("doc_id") >= 250))
    val cfg = CorpusPipeline.Config()
    def tmp(p: String) = Files.createTempDirectory(p).toString
    def run(idx: String, out: String) = batches.zipWithIndex.map {
      case (b, i) => StreamingFunnel.processBatch(b, i.toLong, cfg, idx, out)
        .copy(ms = 0L)
    }
    val (cleanIdx, cleanOut) = (tmp("fail-clean-idx"), tmp("fail-clean-out"))
    val clean = run(cleanIdx, cleanOut)

    // the survivors write fails (its directory is a regular file) after
    // both index writes of batch 0 were submitted to the write pool
    val idx = tmp("fail-idx")
    val badOut = Files.createTempFile("fail-out", ".file").toString
    val poolJobs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("funnel: "))
          .foreach(_ => poolJobs.add(e.time))
    }
    spark.sparkContext.addSparkListener(listener)
    val thrownAt = try {
      intercept[Exception](StreamingFunnel.processBatch(batches.head, 0L,
        cfg, idx, badOut))
      val t = System.currentTimeMillis()
      Thread.sleep(3000) // an orphaned write would start its jobs here
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val starts = poolJobs.asScala.toSeq
    assert(starts.nonEmpty, "fixture drift: no index write was submitted")
    assert(starts.forall(_ <= thrownAt),
      s"${starts.count(_ > thrownAt)} write-pool jobs started after " +
        "processBatch threw")

    val out = tmp("fail-out-good")
    assert(run(idx, out) == clean, "replay stats diverge from a clean run")
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.get(0).toString).toSet
    assert(ids(spark.read.parquet(out), "doc_id") ==
      ids(spark.read.parquet(cleanOut), "doc_id"))
    Seq(("hashes", "_h"), ("lsh/bands", "bkey"), ("lsh/shingles", "doc_id"))
      .foreach { case (t, c) =>
        assert(ids(spark.read.parquet(s"$idx/$t"), c) ==
          ids(spark.read.parquet(s"$cleanIdx/$t"), c), s"index $t differs")
      }
  }
}
