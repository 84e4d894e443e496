package org.apache.spark.graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.Bm25Index
import graft.pipeline.{CorpusPipeline, KeywordPipeline}
import graft.sources.{Articles, Sinks}
import graft.streaming.StreamingFunnel

private object Params {
  def str(p: Map[String, Any], k: String): String = p(k).toString
  def int(p: Map[String, Any], k: String): Int = p(k).toString.toInt
  def strs(p: Map[String, Any], k: String): Seq[String] =
    p(k).asInstanceOf[Seq[Any]].map(_.toString)
}
import Params._

/** Registry queries over the harness tables, every result fully
  * materialized to the driver with `collect()` — every column computed,
  * nothing left for Catalyst to prune. An operation is one query's
  * construction (the registry function, including any eager jobs it
  * runs) plus its materialization.
  */
final class QueryMix(p: Map[String, Any], ops: Ops, tracer: Tracer) extends Workload {
  private val warmSf = str(p, "warm_sf_dir")
  private val queries = p("queries").asInstanceOf[Seq[Map[String, Any]]]
    .map(q => (str(q, "name"), strs(q, "tables"), str(q, "sf_dir")))
  private val dumpDir = str(p, "out_dir")
  private val registry = SparkEntry.queries
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val digests = mutable.Map.empty[String, String]
  private val unstable = mutable.ArrayBuffer.empty[String]

  // every query of the list once at sf0.01, so the timed round runs
  // compiled code paths (half the cold round time, and far steadier)
  def warmup(spark: SparkSession): Unit =
    queries.foreach(q => registry(q._1)(spark, warmSf).collect())

  def round(spark: SparkSession, r: Int): Unit =
    queries.foreach { case (name, tables, sf) =>
      val res = ops.run("query", name) { rec =>
        val c0 = System.nanoTime()
        val df = tracer.span("queries.construct")(registry(name)(spark, sf))
        val c1 = System.nanoTime()
        val rows = tracer.span("queries.action")(df.collect())
        rec.fields("construct_ms") = (c1 - c0) / 1e6
        rec.fields("action_ms") = (System.nanoTime() - c1) / 1e6
        rec.fields("rows") = rows.length
        (df.schema, rows)
      }
      // outside the operation: results must repeat exactly round over
      // round; the first round's are kept for the oracle comparison
      res.foreach { case (schema, rows) =>
        val d = Digest.of(rows)
        digests.get(name) match {
          case None => digests(name) = d; first(name) = (schema, rows)
          case Some(prev) => if (prev != d) unstable += s"$name@round$r"
        }
      }
      // traced only: the Tables layer on its own, for the tables this
      // query reads (after the query, so it cannot warm its construction)
      if (tracer.enabled) tracer.span("trace.tables") {
        tables.foreach(t => tracer.span("tables.open")(Tables(spark, sf, t).schema))
      }
    }

  // results this build of the program gave before and DuckDB confirmed,
  // by digest: an equal result needs no second comparison
  private val verified = p.getOrElse("verified", Map.empty[String, Any])
    .asInstanceOf[Map[String, Any]]

  override def after(spark: SparkSession): Map[String, Any] = {
    val toCheck = first.filter { case (name, _) => !verified.get(name).contains(digests(name)) }
    toCheck.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$name")
    }
    Map("dump_dir" -> dumpDir, "dumped" -> toCheck.keys.toSeq,
      "digests" -> first.keys.map(n => n -> digests(n)).toMap, "unstable" -> unstable.toSeq,
      "oracle_sql" -> queries.map(_._1).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  def layers(spark: SparkSession, rounds: Seq[RoundInfo]): Map[String, Double] =
    Main.perRound(tracer, rounds, int(p, "cores")) { ri =>
      // tables.open spans sit in the tracer's own trace.tables subtrees,
      // which within() leaves out of the workload's work
      val rs = tracer.all.find(_.id == ri.spanId).get
      val in = tracer.within(ri.spanId) ++ tracer.all.filter(s =>
        s.name == "tables.open" && s.startNs >= rs.startNs && s.endNs <= rs.endNs)
      def named(n: String) = in.filter(_.name == n)
      def ms(n: String) = named(n).map(_.ms).sum
      def jobs(n: String) = named(n).map(s => tracer.jobsIn(s.id)).sum.toDouble
      val plans = tracer.plansBetween(ri.startMs, ri.endMs)
      Map(
        "tables.open_ms" -> ms("tables.open"),
        "tables.open_jobs" -> jobs("tables.open"),
        "queries.construct_ms" -> ms("queries.construct"),
        "queries.construct_jobs" -> jobs("queries.construct"),
        "queries.action_ms" -> ms("queries.action"),
        "plan.ms" -> plans.map(_.planMs).sum.toDouble,
        "graftx.topk_ops" -> plans.map(_.topkOps).sum.toDouble)
    }
}

/** Order-insensitive digest of a materialized result. */
object Digest {
  private def fmt(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(fmt).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(fmt).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The paper's keyword pipeline over generated PubMed ASN.1 pages.
  * One operation per stage call, each guarded: stage 2 converts one
  * year's pages to NDJSON (`year=<y>` directories, the year taken from
  * the page names as the reference does); stage 3 writes the v2 keyword
  * table partitioned by year and the v1 inverted index as CSV. A round
  * is one whole pass into fresh output directories.
  *
  * Traced, each call materializes its result before the next layer
  * runs, so the parse, the NDJSON write and read, each keyword pass and
  * each sink write get their own time; the untraced pass is the plain
  * lazy pipeline a user would write.
  */
final class PubmedKeywords(p: Map[String, Any], ops: Ops, tracer: Tracer) extends Workload {
  private val pages = str(p, "pages_dir")
  private val years = p("years").asInstanceOf[Seq[Any]].map(_.toString.toInt)
  private val out = str(p, "out_dir")

  private def pass(spark: SparkSession, pagesDir: String, ys: Seq[Int],
      dir: String, timed: Boolean): Unit = {
    def run(kind: String, name: String)(body: => Unit): Unit =
      if (timed) ops.run(kind, name)(_ => body) else body
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def mat(name: String)(df: => DataFrame): DataFrame =
      if (!tracer.enabled || !timed) df
      else tracer.span(name) { val d = df.persist(); cached += d; d.count(); d }
    val nd = s"$dir/ndjson"
    try {
      ys.foreach { y =>
        run("stage2", s"ndjson-$y") {
          val arts = mat("sources.asn1_parse")(
            Articles.readAsn1(spark, s"$pagesDir/${y}_*")
              .select(col("pmid"), struct(col("abstract")).as("medent")))
          tracer.span("sources.ndjson_write")(Articles.writeNdjson(arts, s"$nd/year=$y"))
        }
      }
      run("stage3", "keywords-v2") {
        val perYear = ys.map { y =>
          val abs = mat("sources.ndjson_read")(
            Articles.abstracts(Articles.readNdjson(spark, s"$nd/year=$y")))
          KeywordPipeline.keywordTableV2(abs, "pmid", "abstract", lit(y))
        }
        val v2 = mat("pipeline.keywords_v2")(perYear.reduce(_ union _))
        tracer.span("sinks.write")(Sinks.writePartitioned(v2, s"$dir/v2", Seq("year")))
      }
      run("stage3", "keywords-v1") {
        val abs = mat("sources.ndjson_read")(Articles.abstracts(Articles.readNdjson(spark, nd)))
        val v1 = mat("pipeline.keywords_v1")(KeywordPipeline.invertedIndexV1(abs, "pmid", "abstract"))
        tracer.span("sinks.write")(Sinks.writeKeywordCsv(v1, s"$dir/v1"))
      }
    } finally cached.foreach(_.unpersist())
  }

  // one whole untimed pass over the same pages, so the timed rounds run
  // code the JIT has compiled at full size: after a small warm-up the
  // compilers are still at work in the rounds, and the rounds' CPU time
  // then depends on how fast they got there
  def warmup(spark: SparkSession): Unit =
    pass(spark, pages, years, s"$out/warm", timed = false)

  def round(spark: SparkSession, r: Int): Unit =
    pass(spark, pages, years, s"$out/pass-$r", timed = true)

  override def after(spark: SparkSession): Map[String, Any] = {
    // the parser's own output, for the article-set check
    Articles.readAsn1(spark, s"$pages/*").write.mode("overwrite").json(s"$out/parsed")
    Map("parsed" -> s"$out/parsed")
  }

  def layers(spark: SparkSession, rounds: Seq[RoundInfo]): Map[String, Double] =
    Main.perRound(tracer, rounds, int(p, "cores")) { ri =>
      val in = tracer.within(ri.spanId)
      def ms(n: String) = in.filter(_.name == n).map(_.ms).sum
      val sinkFiles = Seq("v1", "v2").flatMap(d => Main.dataFiles(s"$out/pass-${ri.index}/$d"))
      Map(
        "sources.asn1_parse_ms" -> ms("sources.asn1_parse"),
        "sources.ndjson_write_ms" -> ms("sources.ndjson_write"),
        "sources.ndjson_read_ms" -> ms("sources.ndjson_read"),
        "pipeline.keywords_v1_ms" -> ms("pipeline.keywords_v1"),
        "pipeline.keywords_v2_ms" -> ms("pipeline.keywords_v2"),
        "sinks.write_ms" -> ms("sinks.write"),
        "sinks.files" -> sinkFiles.size.toDouble,
        "sinks.bytes" -> sinkFiles.map(_.length).sum.toDouble)
    }
}

/** Seeded micro-batches through the streaming corpus funnel with a
  * BM25 index. A round is the whole batch sequence into fresh index
  * directories: each batch is one `processBatch` operation, after the
  * last batch one `maintain` operation folds the tiered runs, and after
  * each batch (and the fold) one BM25 top-k probe for that batch's
  * planted term reads the live index.
  */
final class FunnelIngest(p: Map[String, Any], ops: Ops, tracer: Tracer) extends Workload {
  private val batches = str(p, "batches_dir")
  private val warmBatches = str(p, "warm_batches_dir")
  private val nBatches = int(p, "n_batches")
  private val warmTerm = str(p, "warm_probe_term")
  private val terms = strs(p, "probe_terms")
  private val k = 50
  private val out = str(p, "out_dir")
  private val cfg = CorpusPipeline.Config()
  private val schema = "doc_id BIGINT, text STRING, lang STRING"
  private val roundChecks = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def dirs(base: String) = (s"$base/index", s"$base/survivors", s"$base/bm25")

  private def batch(spark: SparkSession, dir: String, b: Int): DataFrame =
    spark.read.schema(schema).json(f"$dir/batch_$b%03d.json")

  // a small batch into a scratch index and a probe of it, so the timed
  // batches and probes run compiled code
  def warmup(spark: SparkSession): Unit = {
    foldEarly(spark)
    val (idx, surv, bm25) = dirs(s"$out/warm")
    StreamingFunnel.processBatch(batch(spark, warmBatches, 0), 0, cfg, idx, surv, Some(bm25))
    Bm25Index.query(spark, bm25, Seq(warmTerm), k).collect()
  }

  // fold as soon as a tier holds two runs (default four), so the short
  // round still folds every index once and reads the result
  private def foldEarly(spark: SparkSession): Unit =
    spark.conf.set("spark.graft.index.tierMinRuns", "2")

  def round(spark: SparkSession, r: Int): Unit = {
    foldEarly(spark)
    val (idx, surv, bm25) = dirs(s"$out/round-$r")
    (0 until nBatches).foreach { b =>
      ops.run("batch", s"batch-$b") { rec =>
        val s = StreamingFunnel.processBatch(batch(spark, batches, b), b, cfg, idx, surv, Some(bm25))
        rec.fields ++= Seq("batch" -> b, "n_input" -> s.nInput, "n_lang" -> s.nLang,
          "n_quality" -> s.nQuality, "n_exact" -> s.nExact, "n_near" -> s.nNear)
      }
      if (b == nBatches - 1)
        ops.run("maintain", s"maintain-$b") { rec =>
          rec.fields("folds") = StreamingFunnel.maintain(spark, idx, Long.MaxValue, Some(bm25))
        }
      val term = terms(b)
      ops.run("probe", term) { rec =>
        val ids = Bm25Index.query(spark, bm25, Seq(term), k).select("doc_id")
          .collect().map(_.getLong(0)).sorted
        rec.fields ++= Seq("term" -> term, "after_batch" -> b, "doc_ids" -> ids.toSeq)
      }
    }
    val nDocs = Bm25Index.table(spark, bm25, "stats").agg(sum("n_docs")).collect()(0)
    val idxFiles = Main.dataFiles(idx) ++ Main.dataFiles(bm25)
    roundChecks += Map("round" -> r, "survivors_dir" -> surv,
      "bm25_n_docs" -> (if (nDocs.isNullAt(0)) 0.0 else nDocs.getDouble(0)),
      "index_files" -> idxFiles.size, "index_bytes" -> idxFiles.map(_.length).sum)
  }

  override def after(spark: SparkSession): Map[String, Any] =
    Map("rounds" -> roundChecks.toSeq)

  def layers(spark: SparkSession, rounds: Seq[RoundInfo]): Map[String, Double] = {
    val inputBytes = (0 until nBatches).map(b =>
      new java.io.File(f"$batches/batch_$b%03d.json").length).sum.toDouble
    Main.perRound(tracer, rounds, int(p, "cores")) { ri =>
      val rc = roundChecks(ri.index)
      val ok = ri.ops.filter(_.ok)
      val bs = ok.filter(_.kind == "batch")
      val maint = ok.filter(_.kind == "maintain")
      def sumOf(rs: Seq[OpRecord], f: String) = rs.map(_.fields(f).toString.toDouble).sum
      val nIn = sumOf(bs, "n_input")
      val idxBytes = rc("index_bytes").toString.toDouble
      Map(
        "funnel.batch_ms" -> Main.median(bs.map(_.ms)),
        "funnel.maintain_ms" -> maint.map(_.ms).sum,
        "funnel.folds" -> sumOf(maint, "folds"),
        "funnel.survivor_ratio" -> (if (nIn > 0) sumOf(bs, "n_near") / nIn else 0.0),
        "index.bytes" -> idxBytes,
        "index.files" -> rc("index_files").toString.toDouble,
        "index.write_amp" -> idxBytes / inputBytes,
        "bm25.query_ms" -> Main.median(ok.filter(_.kind == "probe").map(_.ms)))
    }
  }
}
