package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Bm25Index
import graft.pipeline.CorpusPipeline
import graft.streaming.StreamingFunnel

/** Spark-job budgets for the streaming funnel's fixed per-step cost: a
  * micro-batch of a few hundred docs is almost all per-job overhead
  * (scheduling, AQE stage materialization, code generation), so its
  * cost follows its JOB count, not its data. A refactor that adds a
  * count before a collect, an emptiness probe or a schema-inference
  * read keeps every result and every plan shape the other specs pin —
  * only this count sees it.
  *
  * Steps, on the shared session: two [[StreamingFunnel.processBatch]]
  * calls into a fresh index (the second probes what the first wrote),
  * one top-50 [[Bm25Index.query]], and one [[StreamingFunnel.maintain]]
  * cycle with `tierMinRuns=2`, so it folds every index. A job belongs
  * to the step during which it started (the write pool's jobs are
  * joined inside processBatch).
  *
  * The ceilings only ever go DOWN: lower one when a change removes
  * jobs; never raise one to admit a change.
  */
class FunnelJobBudgetSpec extends SparkSpec {

  private val batchCeiling = 55
  private val probeCeiling = 6
  private val maintainCeiling = 15

  test("funnel batches, a BM25 probe and a maintenance cycle stay in budget") {
    StreamingFunnel.drainMaintenance()
    val docs = Tables(spark, ScaleCorpus.sf001, "documents")
      .select("doc_id", "text", "lang", "source")
    val halves = Seq(docs.where(col("doc_id") < 250),
      docs.where(col("doc_id") >= 250))
    val cfg = CorpusPipeline.Config()
    val base = Files.createTempDirectory("funnel-budget").toString
    val (idx, surv, bm25) = (s"$base/index", s"$base/survivors",
      s"$base/bm25")

    val jobs = mutable.ArrayBuffer.empty[FunnelJobBudgetSpec.Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          // the result stage (highest id) is named after the call site
          val site = e.stageInfos.maxByOption(_.stageId).map(_.name)
          val desc = Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
          jobs += FunnelJobBudgetSpec.Job(e.time,
            (desc.toSeq ++ site.toSeq).mkString(" | "))
        }
    }
    val steps = mutable.ArrayBuffer.empty[(String, Long, Long)]
    def step(name: String)(body: => Unit): Unit = {
      val t0 = System.currentTimeMillis()
      body
      steps += ((name, t0, System.currentTimeMillis()))
    }

    val prevMinRuns = spark.conf.getOption("spark.graft.index.tierMinRuns")
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    spark.sparkContext.addSparkListener(listener)
    try {
      halves.zipWithIndex.foreach { case (b, i) =>
        step(s"batch $i") {
          StreamingFunnel.processBatch(b, i, cfg, idx, surv, Some(bm25))
        }
      }
      val term = Bm25Index.table(spark, bm25, "dfs")
        .orderBy(col("dft").desc, col("term")).first().getString(0)
      step("probe") {
        assert(Bm25Index.query(spark, bm25, Seq(term), 50).collect()
          .nonEmpty)
      }
      step("maintain") {
        assert(StreamingFunnel.maintain(spark, idx, Long.MaxValue,
          Some(bm25)) > 0)
      }
      Thread.sleep(1500) // let the listener bus drain
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      prevMinRuns match {
        case Some(v) => spark.conf.set("spark.graft.index.tierMinRuns", v)
        case None => spark.conf.unset("spark.graft.index.tierMinRuns")
      }
    }

    val seen = jobs.synchronized(jobs.toList)
    val perStep = steps.toSeq.map { case (name, t0, t1) =>
      name -> seen.filter(j => j.time >= t0 && j.time <= t1)
    }
    perStep.foreach { case (name, js) =>
      info(s"$name: ${js.size} jobs\n" + js.groupBy(_.site).toSeq
        .sortBy(-_._2.size).map { case (s, g) => s"  ${g.size} x $s" }
        .mkString("\n"))
    }
    val counts = perStep.map { case (n, js) => n -> js.size }.toMap
    Seq("batch 0", "batch 1").foreach { b =>
      assert(counts(b) <= batchCeiling,
        s"$b ran ${counts(b)} jobs > $batchCeiling")
    }
    assert(counts("probe") <= probeCeiling,
      s"the probe ran ${counts("probe")} jobs > $probeCeiling")
    assert(counts("maintain") <= maintainCeiling,
      s"maintain ran ${counts("maintain")} jobs > $maintainCeiling")
  }
}

object FunnelJobBudgetSpec {
  final case class Job(time: Long, site: String)
}
