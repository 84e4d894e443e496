package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.operators.Bm25Index

class Bm25IndexSpec extends SparkSpec {

  private val terms = Seq("hash", "vector", "filter", "merge", "scan")
  private lazy val idxPath = {
    val p = java.nio.file.Files.createTempDirectory("bm25idx").toString
    Bm25Index.write(Tables(spark, sfDir, "documents"), "doc_id", "text", p)
    p
  }

  test("index probe returns exactly the ad-hoc bm25 ranking") {
    val fromIndex = Bm25Index.query(spark, idxPath, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val adHoc = graft.queries.TextQueries.bm25TopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(fromIndex.toSeq == adHoc.toSeq,
      s"index=${fromIndex.toSeq}\nadhoc=${adHoc.toSeq}")
  }

  test("term predicate reaches the postings scan for file skipping") {
    val df = Bm25Index.query(spark, idxPath, Seq("vector", "merge"), k = 5)
    df.collect()
    def flat(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      case other => other +: other.children.flatMap(flat)
    }
    val scans = flat(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec
        if s.metadata.getOrElse("Location", "").contains("postings") => s }
    assert(scans.nonEmpty &&
      scans.head.metadata("PushedFilters").contains("In(term"),
      "term IN (...) must push down to the postings parquet")
  }

  test("append: 80% build + 20% batch probes like a full rebuild") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val p = java.nio.file.Files.createTempDirectory("bm25app").toString
    Bm25Index.write(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text", p)
    Bm25Index.appendToIndex(docs.where(pmod(col("doc_id"), lit(5)) === 0),
      "doc_id", "text", p)
    val merged = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val full = Bm25Index.query(spark, idxPath, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq,
      s"merged=${merged.toSeq}\nfull=${full.toSeq}")
  }

  test("index stats count zero-token docs like the ad-hoc path") {
    import spark.implicits._
    // doc 2 tokenizes to NOTHING — it has no postings row, but n_docs
    // must still count it (the ad-hoc path's stats do; r3 advisor)
    val docs = Seq((1L, "hash map scan"), (2L, "!!! 123 ..."),
      (3L, "vector merge")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("bm25empty").toString
    Bm25Index.write(docs, "doc_id", "text", p)
    val st = spark.read.parquet(s"$p/stats").collect()(0)
    assert(st.getDouble(st.fieldIndex("n_docs")) == 3.0,
      "zero-token docs must count toward n_docs")
    assert(st.getDouble(st.fieldIndex("sum_dl")) == 5.0)
  }

  test("appendToIndex dedupe guard drops already-ingested doc_ids") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val p = java.nio.file.Files.createTempDirectory("bm25guard").toString
    Bm25Index.write(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text", p)
    // the WHOLE corpus re-offered: the guard must keep only the unseen
    // 20%, so the merged index equals the full-corpus build
    Bm25Index.appendToIndex(docs, "doc_id", "text", p,
      dedupeAgainstExisting = true)
    val merged = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val full = Bm25Index.query(spark, idxPath, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq,
      s"merged=${merged.toSeq}\nfull=${full.toSeq}")
  }

  test("dedupe guard probe is bloom-screened and dp-pruned") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val p = java.nio.file.Files.createTempDirectory("bm25prune").toString
    Bm25Index.write(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text", p)
    assert(Bm25Index.readDocPrefixes(spark, p).exists(_ > 1),
      "index meta must record the dp modulus")
    def flat(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec => flat(q.plan)
      case other => other +: other.children.flatMap(flat)
    }
    def docidScans(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      flat(df.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec
          if s.metadata.getOrElse("Location", "").contains("docids") => s }
    }
    // a PARTIALLY-seen batch (the whole corpus re-offered): the seen
    // 80% passes the bloom, so the ledger read is present but pruned
    // to the suspects' prefixes
    val reoffer = Bm25Index.notYetIngested(docs, "doc_id", p)
    val scansSeen = docidScans(reoffer)
    assert(scansSeen.nonEmpty, "guard must read the docids ledger")
    assert(scansSeen.forall(_.partitionFilters.nonEmpty),
      "docids scan must carry the suspects' dp partition filter — " +
        "without it every append re-scans the whole ingested-id history")
    assert(reoffer.count() ==
      docs.where(pmod(col("doc_id"), lit(5)) === 0).count(),
      "guard must keep exactly the unseen 20%")
    // a fully-DISJOINT batch loses ~every id at the bloom: with no fpp
    // survivors the empty prefix set folds the ledger read away
    // entirely (zero history I/O); the few fpp survivors a larger
    // batch yields still leave a pruned read. Either way every
    // bloom-negative row survives the anti-join — the batch passes
    // untouched.
    val disjoint = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    val kept = Bm25Index.notYetIngested(disjoint, "doc_id", p)
    assert(docidScans(kept).forall(_.partitionFilters.nonEmpty),
      "any surviving ledger read must stay prefix-pruned")
    assert(kept.count() == disjoint.count(),
      "a disjoint batch must pass the guard untouched")
  }

  test("dedupe guard catches a re-ingested zero-token doc") {
    import spark.implicits._
    // doc 2 has no postings row — the legacy postings-scan guard could
    // not see it; the docids ledger (pre-explode doc list) must
    val docs = Seq((1L, "hash map scan"), (2L, "!!! 123 ..."),
      (3L, "vector merge")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("bm25ztok").toString
    Bm25Index.write(docs, "doc_id", "text", p)
    Bm25Index.appendToIndex(docs.where($"doc_id" === 2L), "doc_id", "text",
      p, dedupeAgainstExisting = true)
    val st = spark.read.parquet(s"$p/stats")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect()(0)
    assert(st.getDouble(0) == 3.0,
      "re-offered zero-token doc must not re-count in n_docs")
  }

  test("legacy index without a docids ledger falls back, stays legacy") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val p = java.nio.file.Files.createTempDirectory("bm25legacy").toString
    Bm25Index.write(docs.where(pmod(col("doc_id"), lit(5)) =!= 0),
      "doc_id", "text", p)
    // simulate an index built before the ledger existed
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(s"$p/docids", s"$p/docbloom", s"$p/_graft_bm25_meta").foreach { d =>
      val hp = new org.apache.hadoop.fs.Path(d)
      hp.getFileSystem(conf).delete(hp, true)
    }
    Bm25Index.appendToIndex(docs, "doc_id", "text", p,
      dedupeAgainstExisting = true)
    val merged = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val full = Bm25Index.query(spark, idxPath, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq, "fallback guard must still dedupe")
    assert(!new java.io.File(s"$p/docids").exists(),
      "a legacy index must NOT start a half-covered ledger — " +
        "it would wrongly re-admit pre-ledger docs")
  }

  test("compaction: probe-identical, fewer files, guard + append continue") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val p = java.nio.file.Files.createTempDirectory("bm25cmp").toString
    // accumulate: build + 3 appends (mod-5 shards 1..4), then compact
    Bm25Index.write(docs.where(pmod(col("doc_id"), lit(5)) === 1),
      "doc_id", "text", p)
    (2 to 4).foreach { s =>
      Bm25Index.appendToIndex(docs.where(pmod(col("doc_id"), lit(5))
        === s), "doc_id", "text", p)
    }
    val before = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def nFiles(sub: String) = {
      // count under the RESOLVED root: after a compaction the live
      // data moves to the current generation subtree
      val root = graft.operators.IndexLifecycle.resolveRoot(spark, p)
      val d = new java.io.File(s"$root/$sub")
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(d)
    }
    val filesBefore = Seq("postings", "dfs", "stats").map(nFiles).sum
    Bm25Index.compactIndex(spark, p)
    assert(Seq("postings", "dfs", "stats").map(nFiles).sum < filesBefore,
      "compaction must shrink the file count")
    val after = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(after.toSeq == before.toSeq, "compaction must be result-invisible")
    // guard state survives: re-offering the whole corpus admits only
    // the never-ingested mod-5 == 0 shard, and ingest continues
    Bm25Index.appendToIndex(docs, "doc_id", "text", p,
      dedupeAgainstExisting = true)
    val merged = Bm25Index.query(spark, p, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val full = Bm25Index.query(spark, idxPath, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq,
      "post-compaction append + guard must reach the full-corpus index")
  }

  test("guard scan fraction stays bounded as the index grows 10x") {
    // metric-level form of the sub-linear re-ingest claim (the BM25
    // twin of IncrementalIndexSpec's bands-fraction pin): with the dp
    // modulus sized above the batch's bloom SURVIVORS, the ledger rows
    // actually read are a bounded fraction of the index, and the
    // fraction holds as the index grows a decade — a lost bloom or
    // prune would read ~100% either way.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.conf.set("spark.graft.lsh.indexPrefixes", "256")
    try {
      val p = java.nio.file.Files.createTempDirectory("bm25frac").toString
      def mkDocs(tag: String, n: Int, base: Long) = (1 to n).map { i =>
        (base + i, (1 to 20).map(j => s"$tag${('a' + (i + j) % 26).toChar}")
          .mkString(" "))
      }.toDF("doc_id", "text")
      Bm25Index.write(mkDocs("fa", 300, 0L), "doc_id", "text", p)
      assert(Bm25Index.readDocPrefixes(spark, p).contains(256))
      // probe: one already-ingested id + one unseen id
      val probe = mkDocs("fa", 1, 0L).unionByName(mkDocs("zz", 1, 900000L))
      def rowsRead(): (Long, Long) = {
        val kept = Bm25Index.notYetIngested(probe, "doc_id", p)
        assert(kept.count() == 1L, "exactly the unseen doc must survive")
        val read = PlanShape.flat(
            kept.queryExecution.executedPlan)
          .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.metadata.getOrElse("Location", "").contains("docids") =>
              s.metrics("numOutputRows").value }.sum
        (read, spark.read.parquet(s"$p/docids").count())
      }
      val (read1, total1) = rowsRead()
      (0 until 10).foreach { g =>
        Bm25Index.appendToIndex(
          mkDocs(s"g${('a' + g).toChar}", 300, 10000L * (g + 1)),
          "doc_id", "text", p)
      }
      val (read2, total2) = rowsRead()
      assert(total2 >= total1 * 10, "fixture drift: index did not grow 10x")
      val (frac1, frac2) = (read1.toDouble / total1, read2.toDouble / total2)
      info(f"ledger scan fraction: $frac1%.3f ($read1/$total1) -> " +
        f"$frac2%.3f ($read2/$total2)")
      assert(frac1 <= 0.25 && frac2 <= 0.25,
        f"guard read $frac1%.2f -> $frac2%.2f of the ledger — " +
          "the bloom screen + dp prune stopped biting")
      assert(frac2 <= frac1 * 2 + 0.02,
        f"pruned fraction grew $frac1%.3f -> $frac2%.3f with index size " +
          "— guard work is scaling with history, not matches")
    } finally spark.conf.unset("spark.graft.lsh.indexPrefixes")
  }

  test("a single-term probe ranks by tf-normalized score only") {
    // with one term, ordering must be monotone in tf/(tf + k1*(...)):
    // longer docs with equal tf rank lower
    val r = Bm25Index.query(spark, idxPath, Seq("hash"), k = 50)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.nonEmpty)
    assert(r.map(_._2).toSeq == r.map(_._2).sorted(
      Ordering[Double].reverse).toSeq, "scores must be non-increasing")
  }
}
