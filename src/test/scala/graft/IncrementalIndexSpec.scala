package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline.CorpusPipeline
import graft.streaming.StreamingFunnel

/** Round-11 contracts of the persisted-LSH-index lifecycle:
  *
  *  1. the probe PARTITION-PRUNES both index reads (bands by the
  *     batch's touched band-key prefixes, shingles by the candidates'
  *     doc-id prefixes) — the property that makes incremental dedup
  *     O(batch), not O(index), at 100 TB;
  *  2. the batch-side shingle broadcast is size-gated (an oversized
  *     backfill batch takes the shuffled join, results identical);
  *  3. streamed-funnel parity holds on TRANSITIVE near-dup chains
  *     bridged by an index-dropped doc (index-match pairs join the
  *     component edge set instead of pre-filtering);
  *  4. out-of-order arrival is detected and surfaced per batch;
  *  5. processBatch is idempotent under foreachBatch's at-least-once
  *     replay, including a replay AFTER the index appends landed but
  *     before the survivors write (the half-written-batch crash).
  */
class IncrementalIndexSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    PlanShape.flat(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
  }

  private lazy val docs = Tables(spark, sfDir, "documents").cache()

  test("probe partition-prunes the bands and shingles reads") {
    val dir = tmp("lsh-prune")
    val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    Dedup.writeLshIndex(corpus, "doc_id", "text", dir)
    assert(Dedup.readLshMeta(spark, dir).exists(_.prefixes > 1),
      "index meta must record the prefix modulus")

    // the same stages dedupAgainstIndex composes (its checkpoint
    // barriers hide the scans from the final plan, so pin the stages)
    val meta = Dedup.readLshMeta(spark, dir)
    val bb = Dedup.bandKeys(batch, "doc_id", "text").localCheckpoint(true)
    val cand = Dedup.indexCandidates(spark, dir, bb, meta, None)
    val bandScans = scans(cand)
      .filter(_.metadata.getOrElse("Location", "").contains("bands"))
    assert(bandScans.nonEmpty, "candidate stage must read the bands table")
    assert(bandScans.forall(_.partitionFilters.nonEmpty),
      "bands scan must carry the touched-prefix partition filter — " +
        "without it every micro-batch rescans the whole band history")

    val shRead = Dedup.indexShinglesFor(spark, dir,
      cand.localCheckpoint(true), meta, None)
    val shScans = scans(shRead)
      .filter(_.metadata.getOrElse("Location", "").contains("shingles"))
    assert(shScans.nonEmpty, "verify stage must read the shingles table")
    assert(shScans.forall(_.partitionFilters.nonEmpty),
      "shingles scan must carry the candidate-prefix partition filter")

    // end-to-end: the composed probe still matches (layout change is
    // result-invisible; IncrementalDedupSpec pins the full-run slice)
    assert(Dedup.dedupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
      .count() > 0)
  }

  test("rolling key bloom screens out a disjoint batch's keys") {
    // the stage that makes the prefix prune bite: batch band keys are
    // uniform hashes, so without the bloom any realistic batch touches
    // every prefix. A batch sharing nothing with the corpus must lose
    // ~all keys at the bloom (fpp 3%), and its probe must return empty.
    import spark.implicits._
    val dir = tmp("lsh-bloom")
    Dedup.writeLshIndex(docs.limit(200), "doc_id", "text", dir)
    val bf = Dedup.readLshBloom(spark, dir)
    assert(bf.isDefined, "writeLshIndex must produce the key bloom")
    val disjoint = (1L to 50L).map(i =>
        (i + 1000000L, (1 to 40).map(j => w(s"zz${('a' + (i % 26)).toChar}", j))
          .mkString(" ")))
      .toDF("doc_id", "text")
    val keys = Dedup.bandKeys(disjoint, "doc_id", "text")
      .select("bkey").collect().map(_.getLong(0))
    val hits = keys.count(bf.get.mightContainLong)
    assert(hits <= math.max(2, (keys.length * 0.1).toInt),
      s"$hits/${keys.length} disjoint keys passed the bloom — " +
        "pre-filter is not screening (capacity/fpp drift?)")
    assert(Dedup.dedupAgainstIndex(disjoint, "doc_id", "text", dir, 0.5)
      .count() == 0L)
  }

  test("rolling a new snapshot never mutates the cached older one") {
    // replay contract: a retried batch reads the newest snapshot
    // EXCLUDING its own — that view must reflect pre-batch state even
    // when the prior snapshot is already in the JVM cache. roll() once
    // merged INTO the cached instance, so a failed first attempt
    // polluted the very view its replay depends on (correctness-safe —
    // blooms only over-approximate — but the prune silently weakened).
    import spark.implicits._
    val dir = tmp("bloom-cache")
    graft.operators.RollingBloom.roll(spark, dir,
      (1L to 100L).toDF("k"), "k", Some(1L), 10000L, 0.001)
    // prime the cache with snapshot 1 through the replay-view read
    assert(graft.operators.RollingBloom.read(spark, dir, Some(2L))
      .exists(_.mightContainLong(1L)))
    val newKeys = (5000001L to 5000100L).toDF("k")
    graft.operators.RollingBloom.roll(spark, dir, newKeys, "k", Some(2L),
      10000L, 0.001)
    val replayView =
      graft.operators.RollingBloom.read(spark, dir, Some(2L)).get
    val leaked = (5000001L to 5000100L).count(replayView.mightContainLong)
    assert(leaked <= 5,
      s"$leaked/100 of batch 2's keys visible in the batch-1 snapshot — " +
        "roll() mutated the cached prior bloom")
    val merged = graft.operators.RollingBloom.read(spark, dir, None).get
    assert(merged.mightContainLong(1L) &&
      merged.mightContainLong(5000001L),
      "newest snapshot must contain both old and new keys")
  }

  test("scan fraction stays bounded at a DERIVED prefix count too") {
    // the round-12 derivation path (no explicit indexPrefixes conf):
    // the modulus comes from the corpus size estimate against a small
    // byte target, and the sub-linear pin must hold there exactly as
    // it does at the hand-set 256 below
    import spark.implicits._
    spark.conf.set("spark.graft.index.prefixTargetBytes", "1024")
    try {
      val dir = tmp("lsh-dfrac")
      def mkDocs(tag: String, n: Int, base: Long) = (1 to n).map { i =>
        (base + i, (1 to 40).map(w(
          s"$tag${('a' + i / 26).toChar}${('a' + i % 26).toChar}", _))
          .mkString(" "))
      }.toDF("doc_id", "text")
      // parquet-backed corpus: the derivation reads the Catalyst size
      // estimate, which is file-size-backed for parquet (a local Seq
      // would estimate fixed 20 B per string and stay at the floor)
      val corpusDir = tmp("lsh-dfrac-src")
      mkDocs("da", 300, 0L).write.mode("overwrite").parquet(corpusDir)
      Dedup.writeLshIndex(spark.read.parquet(corpusDir),
        "doc_id", "text", dir)
      val meta = Dedup.readLshMeta(spark, dir)
      assert(meta.exists(m => m.prefixes > 16 &&
        Integer.bitCount(m.prefixes) == 1),
        s"fixture drift: expected a derived modulus above the floor, " +
          s"got ${meta.map(_.prefixes)}")
      val probe = mkDocs("da", 1, 900000L)
        .unionByName(mkDocs("xy", 1, 910000L))
      def frac(): Double = {
        val bb = Dedup.bandKeys(probe, "doc_id", "text")
          .localCheckpoint(true)
        val cand = Dedup.indexCandidates(spark, dir, bb, meta, None)
        assert(cand.collect().length >= 1)
        val read = PlanShape.flat(
            cand.queryExecution.executedPlan)
          .collect { case s: FileSourceScanExec
            if s.metadata.getOrElse("Location", "").contains("bands") =>
              s.metrics("numOutputRows").value }.sum
        read.toDouble / spark.read.parquet(
          s"${graft.operators.IndexLifecycle.resolveRoot(spark, dir)}/bands")
          .count()
      }
      val f1 = frac()
      (0 until 10).foreach { g =>
        Dedup.appendToLshIndex(
          mkDocs(s"e${('a' + g).toChar}", 300, 10000L * (g + 1)),
          "doc_id", "text", dir)
      }
      val f2 = frac()
      info(f"derived-modulus scan fraction: $f1%.3f -> $f2%.3f")
      assert(f1 <= 0.25 && f2 <= 0.25 && f2 <= f1 * 2 + 0.02,
        f"pruning at the derived modulus broke: $f1%.3f -> $f2%.3f")
    } finally spark.conf.unset("spark.graft.index.prefixTargetBytes")
  }

  test("probe scan fraction stays bounded as the index grows 10x") {
    // The metric-level form of the sub-linear claim, no wall-clock
    // flakiness: with prefixes sized above the probe's SURVIVING keys
    // (the 100 TB sizing rule — bloom survivors ~ true matches + fpp x
    // batch keys), the bands rows actually READ are a bounded fraction
    // of the index, and the fraction holds as the index grows a decade
    // (a lost bloom or prune would read ~100% either way).
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    spark.conf.set("spark.graft.lsh.indexPrefixes", "256")
    try {
      val dir = tmp("lsh-frac")
      def mkDocs(tag: String, n: Int, base: Long) = (1 to n).map { i =>
        (base + i, (1 to 40).map(w(
          s"$tag${('a' + i / 26).toChar}${('a' + i % 26).toChar}", _))
          .mkString(" "))
      }.toDF("doc_id", "text")
      Dedup.writeLshIndex(mkDocs("fa", 300, 0L), "doc_id", "text", dir)
      val meta = Dedup.readLshMeta(spark, dir)
      assert(meta.exists(_.prefixes == 256))
      // probe: one true near-dup of indexed doc 1 + one disjoint doc
      val dup = mkDocs("fa", 1, 900000L)
      val probe = dup.unionByName(mkDocs("pq", 1, 910000L))

      def rowsRead(): (Long, Long) = {
        val bb = Dedup.bandKeys(probe, "doc_id", "text").localCheckpoint(true)
        val cand = Dedup.indexCandidates(spark, dir, bb, meta, None)
        val n = cand.collect().length
        assert(n >= 1, "the planted near-dup must surface as a candidate")
        val read = PlanShape.flat(cand.queryExecution.executedPlan)
          .collect { case s: FileSourceScanExec
            if s.metadata.getOrElse("Location", "").contains("bands") =>
              s.metrics("numOutputRows").value }.sum
        (read, spark.read.parquet(s"$dir/bands").count())
      }
      val (read1, total1) = rowsRead()
      val frac1 = read1.toDouble / total1
      // grow the index 10x with disjoint content
      (0 until 10).foreach { g =>
        Dedup.appendToLshIndex(
          mkDocs(s"g${('a' + g).toChar}", 300, 10000L * (g + 1)),
          "doc_id", "text", dir)
      }
      val (read2, total2) = rowsRead()
      val frac2 = read2.toDouble / total2
      assert(total2 >= total1 * 10, "fixture drift: index did not grow 10x")
      info(f"scan fraction: $frac1%.3f ($read1/$total1) -> " +
        f"$frac2%.3f ($read2/$total2)")
      assert(frac1 <= 0.25 && frac2 <= 0.25,
        f"probe read $frac1%.2f -> $frac2%.2f of the bands index — " +
          "the bloom screen + prefix prune stopped biting")
      assert(frac2 <= frac1 * 2 + 0.02,
        f"pruned fraction grew $frac1%.3f -> $frac2%.3f with index size " +
          "— probe work is scaling with history, not matches")
    } finally spark.conf.unset("spark.graft.lsh.indexPrefixes")
  }

  test("mismatched banding params fail fast instead of matching nothing") {
    val dir = tmp("lsh-params")
    Dedup.writeLshIndex(docs.limit(50), "doc_id", "text", dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs.limit(10), "doc_id", "text", dir, 0.5,
        bands = 8, rowsPerBand = 8)
    }
    assert(e.getMessage.contains("built with"))
  }

  test("oversized batch takes the shuffled verify join, same results") {
    val dir = tmp("lsh-gate")
    val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
    Dedup.writeLshIndex(corpus, "doc_id", "text", dir)

    def run() = Dedup.dedupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
    def broadcastsSha(df: DataFrame): Boolean = {
      df.collect()
      PlanShape.flat(df.queryExecution.executedPlan).exists {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
          b.schema.fieldNames.contains("sha")
        case _ => false
      }
    }
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // disable auto-broadcast: any broadcast of the batch shingles then
    // comes from the explicit hint alone (AQE broadcasting a genuinely
    // small side on its own is fine and scale-safe — it re-decides
    // from runtime sizes; the gate's job is only to never FORCE one)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val hinted = run()
      val hintedRows = rows(hinted)
      assert(broadcastsSha(hinted),
        "a batch inside the budget should broadcast its shingle fetch " +
          "(explicit hints override the disabled auto-threshold)")
      spark.conf.set("spark.graft.dedup.broadcastBudget", "1")
      try {
        val gated = run()
        val gatedRows = rows(gated)
        assert(!broadcastsSha(gated),
          "an over-budget batch must NOT ship its shingle arrays through " +
            "the driver — the gate has to force the shuffled equi-join")
        assert(gatedRows == hintedRows, "gate must not change results")
      } finally spark.conf.unset("spark.graft.dedup.broadcastBudget")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  // ---- streamed-funnel semantics ----------------------------------

  /** letter-only synthetic words (digits would split under the
    * letters-only tokenizer)
    */
  private def w(prefix: String, i: Int): String =
    s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  private def doc(id: Long, words: Seq[String]) =
    (id, words.mkString(" "), "en", "web")

  test("transitive chain bridged by an index-dropped doc matches the batch funnel") {
    import spark.implicits._
    // E (corpus) ~ B, B ~ A, A !~ E: J(B,E)=J(A,B)=64/92≈0.70 >= 0.5,
    // J(A,E)=50/106≈0.47 < 0.5. Batch funnel: one component {E,A,B},
    // keeper E. A pre-filter streamed run would wrongly keep A (B dies
    // on the index probe, the in-batch component {A,B} elects A).
    val m = (1 to 80).map(w("m", _))
    val e = m.take(66) ++ (1 to 14).map(w("e", _))
    val a = (1 to 14).map(w("a", _)) ++ m.drop(14)
    val all = Seq(doc(1L, e), doc(10L, a), doc(11L, m))
      .toDF("doc_id", "text", "lang", "source")
    val cfg = CorpusPipeline.Config()

    // fixture self-check: the LSH banding must actually catch both
    // pairs (deterministic — seeds are baked into the expression)
    val pairs = Dedup.minhashLshPairs(all, "doc_id", "text", 0.5)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 11L), (10L, 11L)),
      s"fixture drift: expected exactly E~B and A~B, got $pairs")

    val expected = CorpusPipeline.prepare(all, cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected == Set(1L), s"batch funnel should keep only E: $expected")

    val idxDir = tmp("funnel-idx")
    val outDir = tmp("funnel-out")
    StreamingFunnel.processBatch(all.where(col("doc_id") === 1), 0L, cfg,
      idxDir, outDir)
    StreamingFunnel.processBatch(all.where(col("doc_id") > 1), 1L, cfg,
      idxDir, outDir)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == expected,
      s"streamed survivors $streamed diverge from batch funnel $expected")
  }

  test("out-of-order ingest still yields a VALID greedy dedup") {
    // the documented degradation contract (StreamingFunnel header):
    // scrambled batch order may elect different component members than
    // the batch funnel, but the result must still BE a dedup — no
    // surviving pair is near-dup (LSH+verify ground truth) and no two
    // survivors share an exact digest, across ALL batches. A probe that
    // missed history (pruning bug, stale bloom) would leak a cross-
    // batch duplicate into the survivor set and fail here.
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents").cache()
    val idxDir = tmp("greedy-idx")
    val outDir = tmp("greedy-out")
    val cfg = CorpusPipeline.Config()
    // mod-4 hash shards processed in scrambled order: ids interleave
    // across the whole range, so every later batch sees out-of-order
    // arrivals (asserted — the detection must fire, not just exist)
    val order = Seq(2, 0, 3, 1)
    val stats = order.zipWithIndex.map { case (shard, i) =>
      StreamingFunnel.processBatch(
        docs.where(pmod(hash(col("doc_id")), lit(4)) === shard),
        i.toLong, cfg, idxDir, outDir)
    }
    assert(stats.drop(1).exists(_.nOutOfOrder > 0),
      "fixture drift: scrambled shards produced no out-of-order arrivals")
    val survivors = spark.read.parquet(outDir).cache()
    assert(survivors.count() > 0)
    assert(survivors.select("doc_id").distinct().count()
      == survivors.count(), "a doc survived twice")
    val nearDups = Dedup.minhashLshPairs(
      survivors, "doc_id", "text", cfg.dedupThreshold).count()
    assert(nearDups == 0L,
      s"$nearDups near-dup pairs survive across scrambled batches — " +
        "the index probe missed history")
    val exactDups = survivors.groupBy(md5(col("text"))).count()
      .where(col("count") > 1).count()
    assert(exactDups == 0L,
      s"$exactDups exact-duplicate digests survive across batches")
    survivors.unpersist(); docs.unpersist()
  }

  test("survivorsAgainstIndex: anchored components drop, local ones elect") {
    // direct API contract (the funnel pins it end-to-end): batch docs
    // 1..5; edges 2~3 (local component -> min 2 survives), 4~corpus-900
    // via another batch doc (4~5, 5~900: anchored chain -> BOTH 4 and 5
    // drop even though 4 < 900 would win a min-id election); 1 isolated.
    import spark.implicits._
    val batch = Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, s"d$i"))
      .toDF("doc_id", "text")
    val batchPairs = Seq((2L, 3L), (4L, 5L)).toDF("ida", "idb")
    val idxPairs = Seq((5L, 900L)).toDF("ida", "idb")
    val kept = Dedup.survivorsAgainstIndex(batch, "doc_id",
        batchPairs, idxPairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L),
      s"expected {1, 2} (isolated + local min; anchored chain dropped), " +
        s"got $kept")
    // no index matches at all: plain min-id election, same as
    // survivorsFromPairs
    val kept2 = Dedup.survivorsAgainstIndex(batch, "doc_id", batchPairs,
        spark.emptyDataset[(Long, Long)].toDF("ida", "idb"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(1L, 2L, 4L))
  }

  test("survivorsAgainstIndex: driver election == distributed election") {
    // the funnel bounds a batch's edge count and elects on the driver;
    // the same graph through the distributed path must keep the same
    // docs (random graph: chains, anchored and local components)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = 1 to 200
    val batch = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
    val batchPairs = Seq.fill(150) {
      val (a, b) = (1 + rnd.nextInt(200), 1 + rnd.nextInt(200))
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct.toDF("ida", "idb")
    val idxPairs = Seq.fill(20)((1 + rnd.nextInt(200), 1000 + rnd.nextInt(50)))
      .distinct.toDF("ida", "idb")
    def kept(maxEdges: Long) = Dedup.survivorsAgainstIndex(batch, "doc_id",
        batchPairs, idxPairs, maxEdges)
      .select("doc_id").collect().map(_.getInt(0)).toSet
    val onDriver = kept(200L * 199 / 2 + 20)
    val distributed = kept(-1L)
    assert(onDriver == distributed)
    assert(onDriver.size > 20 && onDriver.size < 180,
      s"fixture drift: ${onDriver.size} of 200 kept")
    // the small contract above holds on the driver path too
    val small = Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, s"d$i"))
      .toDF("doc_id", "text")
    assert(Dedup.survivorsAgainstIndex(small, "doc_id",
        Seq((2L, 3L), (4L, 5L)).toDF("ida", "idb"),
        Seq((5L, 900L)).toDF("ida", "idb"), maxEdges = 10L)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("out-of-order arrival is detected and counted per batch") {
    import spark.implicits._
    val mkDoc = (id: Long) =>
      doc(id, (1 to 20).map(i => w(s"x${id}q", i)))
    val late = (1L to 5L).map(mkDoc).toDF("doc_id", "text", "lang", "source")
    val early = (100L to 104L).map(mkDoc)
      .toDF("doc_id", "text", "lang", "source")
    val idxDir = tmp("ooo-idx")
    val outDir = tmp("ooo-out")
    val cfg = CorpusPipeline.Config()
    val s0 = StreamingFunnel.processBatch(early, 0L, cfg, idxDir, outDir)
    assert(s0.nOutOfOrder == 0L)
    val s1 = StreamingFunnel.processBatch(late, 1L, cfg, idxDir, outDir)
    assert(s1.nOutOfOrder == 5L,
      "every doc below the prior ingest watermark must be counted")
  }

  test("hash index probe: bloom-screened, hp-pruned, cross-batch exact") {
    import spark.implicits._
    val cfg = CorpusPipeline.Config()
    val (idx, out) = (tmp("hp-idx"), tmp("hp-out"))
    val texts = (1L to 30L).map(i =>
      (i, (1 to 25).map(w(s"hx${('a' + (i % 26)).toChar}", _)).mkString(" ")))
    val b0 = texts.map { case (i, t) => (i, t, "en", "web") }
      .toDF("doc_id", "text", "lang", "source")
    // batch 1 = the SAME texts under new ids + 5 fresh docs: every
    // repeat must die against the persisted index, through the pruned
    // read (correctness would break loudly if pruning lost a prefix)
    val b1 = (texts.map { case (i, t) => (i + 100L, t, "en", "web") } ++
        (1L to 5L).map(i => (i + 200L,
          (1 to 25).map(w(s"fresh${('a' + i).toChar}", _)).mkString(" "),
          "en", "web")))
      .toDF("doc_id", "text", "lang", "source")
    StreamingFunnel.processBatch(b0, 0L, cfg, idx, out)
    val s1 = StreamingFunnel.processBatch(b1, 1L, cfg, idx, out)
    assert(s1.nExact == 5L,
      s"expected only the 5 fresh docs past exact dedup, got ${s1.nExact}")
    // layout contract (r13): append runs are UNPARTITIONED and listed
    // in the run manifest; hp partitioning appears when a tier fold
    // rewrites the merged run, with its modulus recorded per run
    val man0 = graft.operators.RunManifest.read(spark, s"$idx/hashes").get
    assert(man0.live.map(_.id).toSet == Set(0L, 1L),
      s"manifest must list both append runs: ${man0.live}")
    assert(new java.io.File(s"$idx/hashes/batch=0")
      .listFiles().count(_.getName.startsWith("hp=")) == 0,
      "append runs should be unpartitioned (no per-batch shuffle)")
    spark.conf.set("spark.graft.index.tierMinRuns", "2")
    // tiny target so the merged run is big enough to PARTITION (a
    // merged run below one target's bytes stays unpartitioned)
    spark.conf.set("spark.graft.index.prefixTargetBytes", "256")
    try StreamingFunnel.maintain(spark, idx)
    finally {
      spark.conf.unset("spark.graft.index.tierMinRuns")
      spark.conf.unset("spark.graft.index.prefixTargetBytes")
    }
    val man1 = graft.operators.RunManifest.read(spark, s"$idx/hashes").get
    val merged = man1.live.find(_.id < 0)
    assert(merged.exists(_.prefixes.exists(_ > 1)),
      s"fold must record the merged run's modulus: ${man1.live}")
    assert(new java.io.File(s"$idx/hashes/batch=${merged.get.id}")
      .listFiles().count(_.getName.startsWith("hp=")) > 1,
      "merged run must be hp-prefix partitioned")
    // and the folded index still kills repeats: batch 2 re-offers b0
    val s2 = StreamingFunnel.processBatch(
      b0.withColumn("doc_id", col("doc_id") + 300L), 2L, cfg, idx, out)
    assert(s2.nExact == 0L,
      s"merged-run probe lost matches: ${s2.nExact} survived")
    val bf = graft.operators.RollingBloom.read(spark, s"$idx/hashbloom")
    assert(bf.isDefined, "hash bloom snapshot missing")
    // the screen: digests never ingested mostly fail the bloom
    val foreign = (1 to 200).map(i => s"zz-$i-not-a-real-digest")
    val hits = foreign.count(bf.get.mightContainString)
    assert(hits <= 20, s"$hits/200 foreign digests passed the hash bloom")
  }

  test("compaction: probe-identical, fewer files, ingest continues") {
    import spark.implicits._
    val cfg = CorpusPipeline.Config()
    def mk(s: String, ids: Seq[Long]) = ids.map(i =>
        doc(i, (1 to 30).map(w(s"$s${('a' + (i % 26)).toChar}", _))))
      .toDF("doc_id", "text", "lang", "source")
    // two funnels fed identically; one compacts after batch 2
    val (idxA, outA) = (tmp("cmp-a-idx"), tmp("cmp-a-out"))
    val (idxB, outB) = (tmp("cmp-b-idx"), tmp("cmp-b-out"))
    val batches = Seq(
      mk("ca", 1L to 20L), mk("cb", 30L to 49L), mk("cc", 60L to 79L))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingFunnel.processBatch(b, i.toLong, cfg, idxA, outA)
      StreamingFunnel.processBatch(b, i.toLong, cfg, idxB, outB)
    }
    def fileCount(p: String): Int = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    // a probe batch: near-dup of a batch-0 doc + a fresh doc
    val probe = Seq(
        doc(100L, (1 to 30).map(w("cab", _)).take(27) ++
          (1 to 3).map(w("pp", _))),
        doc(101L, (1 to 30).map(w("qq", _))))
      .toDF("doc_id", "text", "lang", "source")
    def probeRows(idx: String) = Dedup
      .dedupAgainstIndex(probe, "doc_id", "text", s"$idx/lsh", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // count the LIVE runs only (manifest): retention keeps folded runs
    // and superseded snapshots around for in-flight readers, so the
    // raw directory total is live + retained by design
    def liveCount(idx: String): Int =
      Seq("hashes" -> Seq(""), "lsh" -> Seq("bands", "shingles"),
        "ingest" -> Seq("")).map { case (t, tables) =>
        val root = graft.operators.IndexLifecycle
          .resolveRoot(spark, s"$idx/$t")
        graft.operators.RunManifest.read(spark, root) match {
          case Some(m) => m.live.flatMap(r => tables.map(tb =>
            fileCount(graft.operators.RunManifest
              .runPath(root, tb, r.id)))).sum
          case None => fileCount(root)
        }
      }.sum
    val before = probeRows(idxB)
    val filesBefore = liveCount(idxB)
    StreamingFunnel.compact(spark, idxB)
    assert(probeRows(idxB) == before,
      "compaction changed probe results")
    val filesAfter = liveCount(idxB)
    assert(filesAfter < filesBefore,
      s"compaction did not shrink live file count ($filesBefore -> $filesAfter)")
    // ingest continues on the compacted state: batch 3 sees the same
    // survivors and the same watermark as the uncompacted twin
    val b3 = mk("cd", 90L to 109L)
      .unionByName(Seq(doc(5L, (1 to 30).map(w("late", _))))
        .toDF("doc_id", "text", "lang", "source"))
    val sA = StreamingFunnel.processBatch(b3, 3L, cfg, idxA, outA)
    val sB = StreamingFunnel.processBatch(b3, 3L, cfg, idxB, outB)
    assert(sB.nOutOfOrder == sA.nOutOfOrder && sA.nOutOfOrder == 1L,
      "compaction must preserve the ingest watermark")
    assert(sB.nNear == sA.nNear)
    def surv(out: String) = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv(outB) == surv(outA),
      "post-compaction ingest diverged from the uncompacted twin")
  }

  test("funnel parity is exact against a pre-seeded 10x index") {
    // the VERDICT-task shape: the cross-batch indexes are 10x the
    // stream's own volume BEFORE the first real batch arrives (a
    // months-old deployment ingesting a trickle). Survivor parity with
    // the batch funnel must hold exactly — in particular, bloom false
    // positives against the big index may only cost pruned-read bytes,
    // never a dropped document (they die at exact verification).
    import spark.implicits._
    val cfg = CorpusPipeline.Config()
    val corpus = (1 to 26).flatMap { g =>
      // 26 near-dup pairs + 26 singletons, letter-tagged vocabularies
      val base = (1 to 40).map(w(s"rl${('a' + g - 1).toChar}", _))
      Seq((1000L + 2 * g, base.mkString(" ")),
        (1001L + 2 * g, (base.take(36) ++ (1 to 4)
          .map(w(s"tl${('a' + g - 1).toChar}", _))).mkString(" ")),
        (1100L + g, (1 to 40).map(w(s"sl${('a' + g - 1).toChar}", _))
          .mkString(" ")))
    }.map { case (i, t) => (i, t, "en", "web") }
      .toDF("doc_id", "text", "lang", "source")
    val expected = CorpusPipeline.prepare(corpus, cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val (idx, out) = (tmp("seed-idx"), tmp("seed-out"))
    // pre-seed: ~10x disjoint docs, ids BELOW the corpus range so the
    // id-ordered-arrival contract holds
    val pre = (1 to 780).map { i =>
      (i.toLong, (1 to 40).map(w(
        s"pre${('a' + i / 676).toChar}${('a' + i / 26 % 26).toChar}" +
          s"${('a' + i % 26).toChar}", _)).mkString(" "), "en", "web")
    }.toDF("doc_id", "text", "lang", "source")
    StreamingFunnel.processBatch(pre, 0L, cfg, idx, out)
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).sorted
    ids.grouped(26).zipWithIndex.foreach { case (chunk, i) =>
      val s = StreamingFunnel.processBatch(
        corpus.where(col("doc_id").isin(chunk: _*)), i + 1L, cfg, idx, out)
      assert(s.nOutOfOrder == 0L)
    }
    val streamed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      .filter(_ >= 1000L) // drop the pre-seed survivors
    assert(streamed == expected,
      s"10x-index parity broke — missing ${(expected -- streamed).take(5)}" +
        s", extra ${(streamed -- expected).take(5)}")
  }

  test("replayed micro-batch (even after a half-written crash) changes nothing") {
    import spark.implicits._
    val cfg = CorpusPipeline.Config()
    val base = (1 to 60).map(w("k", _))
    // batch 0: two docs; batch 1: one near-dup of doc 1 + one fresh doc
    val b0 = Seq(doc(1L, base), doc(2L, (1 to 60).map(w("z", _))))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq(doc(10L, base.take(55) ++ (1 to 5).map(w("n", _))),
        doc(11L, (1 to 60).map(w("f", _))))
      .toDF("doc_id", "text", "lang", "source")

    def state(idxDir: String, outDir: String) = {
      val surv = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val hashes = spark.read.parquet(s"$idxDir/hashes")
        .select("_h").collect().map(_.getString(0)).sorted.toSeq
      val bands = spark.read.parquet(s"$idxDir/lsh/bands")
        .select("doc_id", "bkey").collect()
        .map(r => (r.getLong(0), r.get(1).toString)).sorted.toSeq
      (surv, hashes, bands)
    }

    // clean run
    val (idxA, outA) = (tmp("replay-a-idx"), tmp("replay-a-out"))
    StreamingFunnel.processBatch(b0, 0L, cfg, idxA, outA)
    val cleanB1 = StreamingFunnel.processBatch(b1, 1L, cfg, idxA, outA)
    val cleanState = state(idxA, outA)

    // crashed-then-replayed run: batch 1's index appends land (the
    // crash point AFTER hash+LSH writes, BEFORE the survivors write),
    // then the whole batch replays
    val (idxB, outB) = (tmp("replay-b-idx"), tmp("replay-b-out"))
    StreamingFunnel.processBatch(b0, 0L, cfg, idxB, outB)
    val half = CorpusPipeline.exactDeduped(
      CorpusPipeline.qualityFiltered(
        CorpusPipeline.languageFiltered(b1, cfg), cfg))
    StreamingFunnel.writeHashBatch(
      half.select(md5(col("text")).as("_h")), idxB, 1L)
    Dedup.appendToLshIndex(half, "doc_id", "text", s"$idxB/lsh",
      subdir = Some(1L))
    val replayB1 = StreamingFunnel.processBatch(b1, 1L, cfg, idxB, outB)
    assert(state(idxB, outB) == cleanState,
      "replay after a half-written crash must converge to the clean state")
    assert((replayB1.nInput, replayB1.nExact, replayB1.nNear) ==
      (cleanB1.nInput, cleanB1.nExact, cleanB1.nNear),
      "replayed stats must match the clean run — the probe saw its own " +
        "half-written remains")

    // plain at-least-once replay (crash after everything committed)
    val replayAgain = StreamingFunnel.processBatch(b1, 1L, cfg, idxB, outB)
    assert(state(idxB, outB) == cleanState)
    assert(replayAgain.nNear == cleanB1.nNear)
  }
}
