package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bm25Index, Dedup, IndexLifecycle, RunManifest}
import graft.pipeline.CorpusPipeline
import graft.streaming.StreamingFunnel

/** Round-13 tiered-run lifecycle contracts ([[RunManifest]] — the
  * LSM-style maintenance that replaced r12's full-index rewrite every
  * compactEvery batches):
  *
  *  1. tier planning folds exactly the tiers whose member count
  *     tripped the threshold, never runs at/above the exclusion floor;
  *  2. a maintained funnel is RESULT-IDENTICAL to an unmaintained twin
  *     (survivors, probe results, watermark), run counts shrink, and a
  *     replay of the in-flight batch after a maintenance cycle still
  *     converges;
  *  3. probes RACING a maintenance cycle never error and never read a
  *     torn or double-counted run set (the manifest swap is the only
  *     visible transition);
  *  4. folded runs linger `keepGenerations` cycles for in-flight
  *     readers, then are reclaimed;
  *  5. appends racing a background maintenance cycle (the attach async
  *     mode) commit without losing either side's manifest update.
  */
class RunManifestSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def w(prefix: String, i: Int): String =
    s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  private def mkDocs(tag: String, ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i,
        (1 to 40).map(w(s"$tag${('a' + (i % 26)).toChar}", _))
          .mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("planFolds: threshold per tier, exclusion floor respected") {
    import RunManifest.Run
    spark.conf.set("spark.graft.index.tierMinRuns", "3")
    spark.conf.set("spark.graft.index.tierFactor", "8")
    spark.conf.set("spark.graft.index.tierBaseBytes", "1000")
    try {
      val m = RunManifest.Manifest(0L, Seq(
        Run(0L, 100, None), Run(1L, 900, None), Run(2L, 500, None),
        Run(3L, 5000, None), Run(4L, 6000, None), // tier 1: only 2
        Run(-1L, 7000, Some(16)),                 // tier 1: now 3
        Run(9L, 200, None)                        // at the floor: held
      ), Nil)
      // default cap (maxTiersPerCycle=1): both tiers trip, only the
      // LOWEST folds this cycle — the cascade spreads over cadences
      val capped = RunManifest.planFolds(spark, m, excludeFrom = 9L)
      assert(capped.size == 1 &&
        capped.head.map(_.id).toSet == Set(0L, 1L, 2L),
        s"capped plan should fold only tier 0: $capped")
      spark.conf.set("spark.graft.index.maxTiersPerCycle", "0")
      val folds = RunManifest.planFolds(spark, m, excludeFrom = 9L)
      assert(folds.size == 2, s"expected 2 fold groups, got $folds")
      val ids = folds.map(_.map(_.id).toSet).toSet
      assert(ids == Set(Set(0L, 1L, 2L), Set(3L, 4L, -1L)),
        s"wrong grouping: $ids")
      // nothing trips: singleton tiers
      val m2 = RunManifest.Manifest(0L,
        Seq(Run(0L, 100, None), Run(1L, 5000, None)), Nil)
      assert(RunManifest.planFolds(spark, m2, 9L).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.index.tierMinRuns")
      spark.conf.unset("spark.graft.index.tierFactor")
      spark.conf.unset("spark.graft.index.tierBaseBytes")
      spark.conf.unset("spark.graft.index.maxTiersPerCycle")
    }
  }

  test("tiered funnel == unmaintained twin; replay after a cycle converges") {
    val cfg = CorpusPipeline.Config()
    val (idxA, outA) = (tmp("tm-a-idx"), tmp("tm-a-out"))
    val (idxB, outB) = (tmp("tm-b-idx"), tmp("tm-b-out"))
    val (bmA, bmB) = (s"${tmp("tm-a-bm")}/i", s"${tmp("tm-b-bm")}/i")
    // 6 batches; batch 3 carries a near-dup of a batch-0 doc and an
    // exact dup of a batch-1 doc, so cross-batch probes matter
    val base = (1 to 60).map(w("tm", _))
    val batches = (0 until 6).map { b =>
      val fresh = mkDocs(s"t$b", (b * 100 + 1).toLong to (b * 100 + 12L))
      if (b == 3)
        fresh.unionByName(mkDocs("x3", Seq(900L))
            .withColumn("text",
              lit((base.take(55) ++ (1 to 5).map(w("nn", _)))
                .mkString(" "))))
          .unionByName(mkDocs("x4", Seq(901L))
            .withColumn("text", lit(base.mkString(" "))))
      else if (b == 0)
        fresh.unionByName(mkDocs("x0", Seq(50L))
          .withColumn("text", lit(base.mkString(" "))))
      else fresh
    }
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      var lastB: StreamingFunnel.BatchStats = null
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingFunnel.processBatch(b, i.toLong, cfg, idxA, outA,
          bm25Dir = Some(bmA))
        lastB = StreamingFunnel.processBatch(b, i.toLong, cfg, idxB, outB,
          bm25Dir = Some(bmB))
        // maintenance every 2 batches, attach-style (in-flight held)
        if (i % 2 == 1)
          StreamingFunnel.maintain(spark, idxB, excludeFrom = i.toLong,
            bm25Dir = Some(bmB))
      }
      def surv(out: String) = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(surv(outB) == surv(outA),
        "tiered maintenance changed the survivor set")
      // probe parity: a fresh near-dup batch sees identical matches
      val probe = mkDocs("pr", Seq(5000L))
        .withColumn("text", lit(base.take(57).mkString(" ") + " zz"))
      def probeRows(idx: String) = Dedup
        .dedupAgainstIndex(probe, "doc_id", "text", s"$idx/lsh", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(probeRows(idxB) == probeRows(idxA),
        "tiered maintenance changed LSH probe results")
      assert(probeRows(idxB).nonEmpty, "fixture drift: no planted match")
      // bm25 parity
      val terms = Seq(w("tmaa", 1), w("t1ab", 2), w("nn", 1))
      def q(p: String) = Bm25Index.query(spark, p, terms, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(q(bmB) == q(bmA), "tiered maintenance changed BM25 results")
      // run counts actually shrank on the maintained twin
      val manB = RunManifest.read(spark,
        IndexLifecycle.resolveRoot(spark, s"$idxB/hashes")).get
      assert(manB.live.exists(_.id < 0),
        s"no folded run in the maintained hash index: ${manB.live}")
      val manA = RunManifest.read(spark,
        IndexLifecycle.resolveRoot(spark, s"$idxA/hashes")).get
      assert(manB.live.size < manA.live.size,
        s"tiering did not shrink run count (${manA.live.size} -> " +
          s"${manB.live.size})")
      // replay of the LAST batch (its run was held out of every fold)
      val replay = StreamingFunnel.processBatch(batches(5), 5L, cfg,
        idxB, outB, bm25Dir = Some(bmB))
      assert((replay.nInput, replay.nExact, replay.nNear) ==
        (lastB.nInput, lastB.nExact, lastB.nNear),
        "replay after maintenance diverged — a fold touched the " +
          "in-flight batch's run")
      assert(surv(outB) == surv(outA), "replay changed survivors")
      assert(q(bmB) == q(bmA), "replay changed the BM25 index")
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("index runs open without a schema job, with the inferred schema") {
    val cfg = CorpusPipeline.Config()
    val (idx, out) = (tmp("sch-idx"), tmp("sch-out"))
    val bm = s"${tmp("sch-bm")}/i"
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    spark.conf.set("spark.graft.lsh.indexPrefixes", "4")
    try {
      // two batches folded into partitioned runs, then one more append
      // run next to them: both run layouts of every table
      (0 until 3).foreach { b =>
        StreamingFunnel.processBatch(
          mkDocs(s"sc$b", (b * 100 + 1).toLong to (b * 100 + 12L)),
          b.toLong, cfg, idx, out, bm25Dir = Some(bm))
        if (b == 1)
          StreamingFunnel.maintain(spark, idx, bm25Dir = Some(bm))
      }
    } finally {
      spark.conf.unset("spark.graft.index.tierMinRuns")
      spark.conf.unset("spark.graft.lsh.indexPrefixes")
    }
    val tables = Seq((s"$idx/hashes", ""), (s"$idx/ingest", ""),
        (s"$idx/lsh", "bands"), (s"$idx/lsh", "shingles")) ++
      Seq("postings", "dfs", "stats", "docids").map((bm, _))
    val groups = tables.flatMap { case (logical, t) =>
      val root = IndexLifecycle.resolveRoot(spark, logical)
      RunManifest.modulusGroups(RunManifest.read(spark, root).get.live)
        .map { case (_, runs) => (root, t, runs) }
    }
    assert(groups.exists(_._3.exists(_.prefixes.isDefined)) &&
      groups.exists(_._3.exists(_.prefixes.isEmpty)),
      s"fixture drift: expected folded and append runs, got $groups")

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[A](body: => A): (A, Int) = {
      Thread.sleep(500)
      jobs.set(0)
      val a = body
      Thread.sleep(1000) // let the listener bus drain
      (a, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try groups.foreach { case (root, t, runs) =>
      val (fast, fastJobs) = jobsOf {
        val df = RunManifest.readRuns(spark, root, t, runs)
        df.schema
        df
      }
      val (inferred, inferJobs) = jobsOf {
        val df = spark.read
          .option("basePath", if (t.isEmpty) root else s"$root/$t")
          .parquet(runs.map(r => RunManifest.runPath(root, t, r.id)): _*)
        df.schema
        df
      }
      assert(inferJobs > 0, "the job count misses schema inference")
      assert(fastJobs == 0,
        s"opening $root/$t ran $fastJobs jobs (inference ran $inferJobs)")
      assert(fast.schema == inferred.schema,
        s"$root/$t: ${fast.schema.treeString} vs " +
          inferred.schema.treeString)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(fast) == rows(inferred), s"$root/$t rows differ")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("probe racing tiered maintenance: never torn, never double-counted") {
    val dir = s"${tmp("race-man")}/idx"
    (0 until 6).foreach { b =>
      Dedup.appendToLshIndex(
        mkDocs("rm", (b * 20 + 1).toLong to (b * 20 + 20L))
          .select("doc_id", "text"),
        "doc_id", "text", dir, subdir = Some(b.toLong))
    }
    val probe = mkDocs("rm", Seq(1L)).select("doc_id", "text")
      .withColumn("doc_id", lit(900L))
    def probeRows() = Dedup
      .dedupAgainstIndex(probe, "doc_id", "text", dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val expected = probeRows()
    assert(expected.nonEmpty, "fixture drift: planted near-dup not found")
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      @volatile var failure: Option[Throwable] = None
      val results = new java.util.concurrent.ConcurrentLinkedQueue[
        Set[(Long, Long, Double)]]()
      val prober = new Thread(() =>
        try (1 to 10).foreach(_ => results.add(probeRows()))
        catch { case t: Throwable => failure = Some(t) })
      prober.start()
      // fold repeatedly while the probes run: tier cycles + deep folds
      Dedup.maintainLshIndex(spark, dir)
      Dedup.compactLshIndex(spark, dir)
      Dedup.compactLshIndex(spark, dir)
      prober.join(300000)
      assert(failure.isEmpty,
        s"a probe racing maintenance failed: ${failure.map(_.toString)}")
      assert(results.size == 10)
      results.forEach(r => assert(r == expected,
        s"racing probe read a torn run set: $r vs $expected"))
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("folded runs linger keepGenerations cycles, then are reclaimed") {
    val dir = s"${tmp("grace-man")}/idx"
    (0 until 4).foreach { b =>
      Dedup.appendToLshIndex(
        mkDocs("gr", (b * 10 + 1).toLong to (b * 10 + 10L))
          .select("doc_id", "text"),
        "doc_id", "text", dir, subdir = Some(b.toLong))
    }
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    spark.conf.set("spark.graft.index.keepGenerations", "2")
    try {
      val root = IndexLifecycle.resolveRoot(spark, dir)
      assert(Dedup.maintainLshIndex(spark, dir) == 1)
      val m1 = RunManifest.read(spark, root).get
      assert(m1.dead.map(_._1).toSet == Set(0L, 1L, 2L, 3L) &&
        m1.dead.forall(_._2 == 2), s"dead after fold: ${m1.dead}")
      // a reader that resolved the PRE-fold manifest keeps its files
      // through two more cycles
      def runFiles(id: Long) = {
        val p = new org.apache.hadoop.fs.Path(
          RunManifest.runPath(root, "bands", id))
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      assert(runFiles(0L), "dead run reclaimed at its own fold commit")
      Dedup.maintainLshIndex(spark, dir) // cycle 2: ages to 1
      assert(runFiles(0L), "dead run reclaimed one cycle early")
      Dedup.maintainLshIndex(spark, dir) // cycle 3: ages to 0 -> gone
      assert(!runFiles(0L), "expired dead run not reclaimed")
      assert(RunManifest.read(spark, root).get.dead.isEmpty)
    } finally {
      spark.conf.unset("spark.graft.index.tierMinRuns")
      spark.conf.unset("spark.graft.index.keepGenerations")
    }
  }

  test("probe scan fraction stays bounded across tier folds") {
    // the sub-linearity pin for the TIERED layout: after folds the
    // probe reads whole (micro-batch-sized) append runs plus only the
    // touched prefixes of each merged run — rows actually read stay a
    // bounded fraction of the live index, and the fraction holds as
    // the index grows and folds cascade
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = s"${tmp("frac-man")}/idx"
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    // tiny target so merged runs PARTITION (and at a real modulus)
    spark.conf.set("spark.graft.index.prefixTargetBytes", "4096")
    try {
      def grow(from: Int, until: Int): Unit =
        (from until until).foreach { b =>
          Dedup.appendToLshIndex(
            mkDocs(s"f$b", (b * 300 + 1).toLong to (b * 300 + 300L))
              .select("doc_id", "text"),
            "doc_id", "text", dir, subdir = Some(b.toLong))
        }
      grow(0, 4)
      Dedup.maintainLshIndex(spark, dir)
      val probe = mkDocs("f0", Seq(1L)).select("doc_id", "text")
        .withColumn("doc_id", lit(990000L))
        .unionByName(mkDocs("zz", Seq(990001L)).select("doc_id", "text"))
      def frac(): Double = {
        val root = IndexLifecycle.resolveRoot(spark, dir)
        val man = RunManifest.read(spark, root).get
        val meta = Dedup.readLshMeta(spark, dir)
        val bb = Dedup.bandKeys(probe, "doc_id", "text")
          .localCheckpoint(true)
        val cand = Dedup.indexCandidates(spark, root, bb, meta, None)
        assert(cand.collect().nonEmpty, "planted dup must surface")
        val read = PlanShape.flat(
            cand.queryExecution.executedPlan)
          .collect { case s: FileSourceScanExec
            if s.metadata.getOrElse("Location", "").contains("bands") =>
              s.metrics("numOutputRows").value }.sum
        val total = RunManifest.readData(spark, root, "bands",
          man.live, Seq("bkey")).count()
        read.toDouble / total
      }
      val f1 = frac()
      grow(4, 12)
      Dedup.maintainLshIndex(spark, dir) // folds new runs + cascades
      Dedup.maintainLshIndex(spark, dir)
      val f2 = frac()
      info(f"tiered scan fraction: $f1%.3f -> $f2%.3f")
      assert(f1 <= 0.35 && f2 <= 0.35,
        f"tiered probe read $f1%.2f -> $f2%.2f of the live bands — " +
          "merged-run pruning stopped biting")
      assert(f2 <= f1 + 0.05,
        f"tiered scan fraction grew with index size: $f1%.3f -> $f2%.3f")
    } finally {
      spark.conf.unset("spark.graft.index.tierMinRuns")
      spark.conf.unset("spark.graft.index.prefixTargetBytes")
    }
  }

  test("r12-layout migration: prefix-partitioned runs probe and fold correctly") {
    // an on-disk index from the PREVIOUS layout: prefix-partitioned
    // batch runs + meta, NO manifest (r12 wrote exactly this). The
    // first r13 append must migrate it — manifest created from the
    // listing with the meta's modulus on the partitioned runs — and
    // probes/folds must then read old and new runs through their own
    // layouts. Also covers the lost-manifest case: an UNPARTITIONED
    // run present at migration time must be recorded as such, not
    // mislabeled with the meta's modulus.
    import org.apache.spark.sql.SaveMode
    val dir = s"${tmp("mig-man")}/idx"
    val prefixes = 8
    // hand-build two r12-style runs of the HASH index shape (the
    // simplest single-table run layout): hp-partitioned + meta
    import spark.implicits._
    (0 to 1).foreach { b =>
      (1 to 30).map(i => s"digest-$b-$i").toDF("_h")
        .withColumn("hp", pmod(hash(col("_h")), lit(prefixes)))
        .repartition(col("hp"))
        .write.mode(SaveMode.Overwrite).partitionBy("hp")
        .parquet(s"$dir/batch=$b")
    }
    IndexLifecycle.writeProps(spark, s"$dir/_graft_hash_meta",
      Seq("prefixes" -> prefixes.toString))
    // plus one unpartitioned (r13, manifest-lost) run
    (1 to 10).map(i => s"plain-$i").toDF("_h")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=2")
    val man = RunManifest.ensure(spark, dir, Seq(""), Some(prefixes))
    assert(man.live.map(r => r.id -> r.prefixes).toMap ==
      Map(0L -> Some(prefixes), 1L -> Some(prefixes), 2L -> None),
      s"migration mislabeled run layouts: ${man.live}")
    // mixed-group read sees every digest exactly once, with pruning
    // on the partitioned runs only
    val (n, touched) = RunManifest.touchedSets(
      Seq("digest-0-1", "digest-1-7", "plain-3").toDF("_h"),
      col("_h"), man.live.flatMap(_.prefixes))
    assert(n == 3 && touched(prefixes).nonEmpty)
    val rows = RunManifest.readData(spark, dir, "", man.live,
      Seq("_h"), "hp", m => touched.getOrElse(m, Nil))
    assert(rows.count() <= 70 && rows.count() > 0)
    val all = RunManifest.readData(spark, dir, "", man.live, Seq("_h"))
    assert(all.count() == 70, s"migration lost rows: ${all.count()}")
    // and a fold over the mixed layouts commits cleanly
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      val folds = RunManifest.tierMaintain(spark, dir, Seq(""),
        Long.MaxValue) { (runs, newId) =>
        RunManifest.sizedWrite(
          RunManifest.readData(spark, dir, "", runs, Seq("_h")).distinct(),
          RunManifest.runPath(dir, "", newId))
        None
      }
      assert(folds == 1)
      val after = RunManifest.read(spark, dir).get
      assert(RunManifest.readData(spark, dir, "", after.live,
        Seq("_h")).count() == 70, "fold over mixed layouts lost rows")
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("r12 bm25 migration: per-table layout detection, probe + fold survive") {
    // an r12-layout BM25 index mixes partition depths WITHIN one run:
    // postings/dfs/stats are plain files under batch=<id> while docids
    // is dp-PARTITIONED — head-table-only detection would record the
    // migrated runs unpartitioned, group them with flat r13 appends,
    // and the first multi-path docids scan dies on conflicting
    // partition columns (the round-13 advisor's crash). Detection is
    // per run x any-table now; this pins the full lifecycle: migrate,
    // guarded probe with a bloom suspect, tiered fold, score parity
    // with a never-migrated twin.
    import org.apache.spark.sql.SaveMode
    import graft.text.TextOps
    val bm = s"${tmp("mig-bm")}/i"
    val fresh = s"${tmp("mig-bm-fresh")}/i"
    val prefixes = 8
    val batches = (0 until 4).map(b =>
      mkDocs(s"m${('a' + b).toChar}", (b * 20 + 1).toLong to (b * 20 + 10L)))
    (0 to 1).foreach { b =>
      val toks = batches(b).select(col("doc_id"),
          TextOps.tokens(col("text")).as("ws"))
        .select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
          col("ws"))
      val postings = toks
        .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(count(lit(1)).cast("double").as("tf"))
      postings.write.mode(SaveMode.Overwrite)
        .parquet(s"$bm/postings/batch=$b")
      postings.groupBy("term")
        .agg(count(lit(1)).cast("double").as("dft"))
        .write.mode(SaveMode.Overwrite).parquet(s"$bm/dfs/batch=$b")
      toks.agg(count(lit(1)).cast("double").as("n_docs"),
          sum("dl").as("sum_dl"))
        .write.mode(SaveMode.Overwrite).parquet(s"$bm/stats/batch=$b")
      toks.select("doc_id")
        .withColumn("dp", pmod(hash(col("doc_id")), lit(prefixes)))
        .repartition(col("dp"))
        .write.mode(SaveMode.Overwrite).partitionBy("dp")
        .parquet(s"$bm/docids/batch=$b")
      graft.operators.RollingBloom.roll(spark, s"$bm/docbloom",
        toks.select("doc_id"), "doc_id", Some(b.toLong), -1L, 0.03)
    }
    IndexLifecycle.writeProps(spark, s"$bm/_graft_bm25_meta",
      Seq("prefixes" -> prefixes.toString))
    // never-migrated twin: same batches through appendBatch only
    (0 until 4).foreach(b => Bm25Index.appendBatch(batches(b), "doc_id",
      "text", fresh, b.toLong))
    // first post-upgrade append triggers the migration
    Bm25Index.appendBatch(batches(2), "doc_id", "text", bm, 2L)
    val man = RunManifest.read(spark, bm).get
    assert(man.live.map(r => r.id -> r.prefixes).toMap ==
      Map(0L -> Some(prefixes), 1L -> Some(prefixes), 2L -> None),
      s"migration mislabeled the bm25 run layouts: ${man.live}")
    // batch 3 re-ingests a batch-0 doc: the guard's bloom yields a
    // suspect and notYetIngested reads the MIXED-layout docids runs
    Bm25Index.appendBatch(
      batches(3).unionByName(batches(0).limit(1)), "doc_id", "text",
      bm, 3L)
    def q(p: String) = Bm25Index.query(spark, p,
        Seq(w("mab", 1), w("mcp", 1)), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(q(bm).nonEmpty, "fixture drift: query terms match nothing")
    assert(q(bm) == q(fresh), "migrated index diverges from fresh twin")
    // and tiered maintenance folds the mixed layouts without crashing
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      assert(Bm25Index.maintainIndex(spark, bm) >= 1,
        "no fold committed over the migrated index")
      assert(q(bm) == q(fresh), "fold over migrated runs changed scores")
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("post-fold manifest loss fails loudly; manual restore recovers") {
    val bm = s"${tmp("loss-bm")}/i"
    (0 until 4).foreach(b => Bm25Index.appendBatch(
      mkDocs(s"l${('a' + b).toChar}", (b * 20 + 1).toLong to (b * 20 + 10L)),
      "doc_id", "text", bm, b.toLong))
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      assert(Bm25Index.maintainIndex(spark, bm) == 1)
      val terms = Seq(w("lab", 1), w("ldp", 1))
      def q() = Bm25Index.query(spark, bm, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = q()
      assert(before.nonEmpty, "fixture drift: query terms match nothing")
      // the hazard state: manifest gone while folded-away DEAD runs
      // still linger inside their retention grace — a silent rebuild
      // from the listing would resurrect them into the summed stats
      assert(RunManifest.read(spark, bm).get.dead.nonEmpty,
        "fixture drift: no dead runs lingering after the fold")
      val manFile = java.nio.file.Paths.get(bm, "_graft_runs")
      val bytes = java.nio.file.Files.readAllBytes(manFile)
      java.nio.file.Files.delete(manFile)
      // every lifecycle entry fails LOUDLY with the restore message
      val e1 = intercept[IllegalStateException] {
        Bm25Index.maintainIndex(spark, bm) }
      assert(e1.getMessage.contains("Restore"), e1.getMessage)
      val e2 = intercept[IllegalStateException] { q() }
      assert(e2.getMessage.contains("Restore"), e2.getMessage)
      val e3 = intercept[IllegalStateException] {
        Bm25Index.appendBatch(mkDocs("lz", Seq(900L)), "doc_id", "text",
          bm, 9L) }
      assert(e3.getMessage.contains("Restore"), e3.getMessage)
      // manual restore per the message: put the manifest back — BM25
      // stats/scores are exactly what they were before the loss
      java.nio.file.Files.write(manFile, bytes)
      assert(q() == before, "restored index lost stats parity")
      // the benign case (manifest lost BEFORE any fold) still migrates
      // silently — pinned by the r12-layout migration test above
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("appends racing a background cycle: both manifest updates survive") {
    val cfg = CorpusPipeline.Config()
    val (idx, out) = (tmp("ar-idx"), tmp("ar-out"))
    (0 until 4).foreach { b =>
      StreamingFunnel.processBatch(
        mkDocs(s"a$b", (b * 50 + 1).toLong to (b * 50 + 10L)),
        b.toLong, cfg, idx, out)
    }
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    try {
      // maintenance of runs < 4 on another thread, appends 4..7 racing
      @volatile var failure: Option[Throwable] = None
      val maint = new Thread(() =>
        try StreamingFunnel.maintain(spark, idx, excludeFrom = 4L)
        catch { case t: Throwable => failure = Some(t) })
      maint.start()
      (4 until 8).foreach { b =>
        StreamingFunnel.processBatch(
          mkDocs(s"a$b", (b * 50 + 1).toLong to (b * 50 + 10L)),
          b.toLong, cfg, idx, out)
      }
      maint.join(300000)
      assert(failure.isEmpty, s"racing maintenance failed: $failure")
      val man = RunManifest.read(spark,
        IndexLifecycle.resolveRoot(spark, s"$idx/hashes")).get
      // every appended run AND the folded run are in the manifest
      assert(Set(4L, 5L, 6L, 7L).subsetOf(man.liveIds),
        s"an append's manifest update was lost: ${man.live}")
      assert(man.live.exists(_.id < 0),
        s"the background fold's commit was lost: ${man.live}")
      // and the index state is complete: every batch's digests present
      val hashes = RunManifest.readData(spark,
        IndexLifecycle.resolveRoot(spark, s"$idx/hashes"), "",
        man.live, Seq("_h")).count()
      assert(hashes == 80L, s"expected 80 digests, got $hashes")
    } finally spark.conf.unset("spark.graft.index.tierMinRuns")
  }

  test("read() rides out a torn-checksum commit window; persistent " +
      "corruption still fails loudly") {
    // local-FS commits go through ChecksumFs, which renames the
    // manifest's data file and its .crc sidecar in TWO steps — a read
    // between them sees new bytes under the old checksum. Simulate the
    // torn state (java.io write bypasses the sidecar), heal it from
    // another thread inside read()'s retry budget, and require the
    // reader to come back with the manifest instead of crashing.
    val root = tmp("ck-retry")
    RunManifest.addRun(spark, root, Seq(""), 0L, None)
    val ptr = new java.io.File(root, "_graft_runs")
    val crc = new java.io.File(root, "._graft_runs.crc")
    assert(ptr.exists, "manifest file expected")
    assume(crc.exists, "checksum sidecar expected on local FS")
    val good = java.nio.file.Files.readAllBytes(ptr.toPath)
    def tear(): Unit = java.nio.file.Files.write(ptr.toPath,
      (new String(good, "UTF-8") + "# torn commit bytes\n")
        .getBytes("UTF-8"))
    tear()
    val healer = new Thread(() => {
      Thread.sleep(120)
      java.nio.file.Files.write(ptr.toPath, good)
    })
    healer.start()
    val m = RunManifest.read(spark, root)
    healer.join(10000)
    assert(m.exists(_.liveIds == Set(0L)),
      s"reader must ride out the torn window and see the manifest: $m")
    // a mismatch that never heals is real corruption: loud failure
    // after the bounded retries, never a silent None (which would send
    // probes to the legacy directory glob)
    tear()
    intercept[org.apache.hadoop.fs.ChecksumException] {
      RunManifest.read(spark, root)
    }
    java.nio.file.Files.write(ptr.toPath, good) // restore for cleanup
  }
}
