package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, IndexLifecycle, RollingBloom, RunManifest}
import graft.pipeline.CorpusPipeline

/** The corpus funnel as ONE incremental streaming program — the shape
  * a 100 TB ingest actually runs (the batch composition is
  * [[CorpusPipeline.prepare]]; rehearsed at 100x in Scale100Spec):
  *
  *   ingest micro-batch
  *     -> language filter            (row-local)
  *     -> quality filter             (row-local)
  *     -> exact dedup                (within batch + against the
  *                                    persisted hash index)
  *     -> near dedup                 (within batch + probe of the
  *                                    persisted MinHash-LSH index)
  *     -> survivors appended; batch docs appended to both indexes
  *     -> (optional) survivors appended to the persisted BM25 text
  *        index — the retrieval artifact rides the same foreachBatch
  *
  * Maintenance is part of the program: every [[compactEvery]] batches
  * [[attach]] runs one TIERED maintenance cycle over the cross-batch
  * state ([[maintain]] — [[graft.operators.RunManifest]]'s LSM-style
  * run folds, committed by atomic manifest swap so probes racing a
  * fold never see an absent, half-built or double-counted index), by
  * default on a BACKGROUND thread so ingest never stalls for it.
  * Per-cycle maintenance work is proportional to the data appended
  * since the last cycle, not to the accumulated index (r12 rewrote
  * the whole index every cycle — O(index) per pass, quadratic over
  * the ingest lifetime); runs at or above the in-flight trigger id
  * are never folded, so an at-least-once replay of that trigger stays
  * idempotent. [[compact]] (the full generation-commit rewrite)
  * remains the manual deep-OPTIMIZE.
  *
  * Every batch does BATCH-SIZED work: the cross-batch state lives in
  * two persisted, append-only indexes (md5 hash table, LSH bands +
  * shingles — [[Dedup.writeLshIndex]]'s lifecycle), and the LSH index
  * is hash-prefix-partitioned so each probe PARTITION-PRUNES to the
  * batch's touched prefixes instead of rescanning history. Per-batch
  * latency therefore tracks the batch, not total ingested volume —
  * StreamingFunnelSpec pins both that and result parity.
  *
  * Per-batch job budget: a micro-batch of a few hundred docs costs what
  * its Spark jobs cost (scheduling, AQE stage materialization, code
  * generation), not what its data costs, so the job count is pinned:
  * at most 55 jobs per batch (two batches into a fresh index: 42 and
  * 51 measured), 6 per BM25 probe and 15 per tiered [[maintain]] cycle
  * — FunnelJobBudgetSpec, whose ceilings only ever go down. Counts the
  * batch already holds replace dedicated jobs: nExact and the
  * index-match count ride their checkpoints and bound the near-dup
  * graph, so a batch-sized graph is elected on the driver
  * ([[Dedup.survivorsAgainstIndex]]); index runs open from their
  * footer schema ([[RunManifest.readParquet]]); a bloom roll is one
  * aggregation ([[RollingBloom.roll]]).
  *
  * Idempotency (foreachBatch is at-least-once): every write this
  * funnel makes is an OVERWRITE of a `batch=<id>` subtree — hash
  * index, LSH index ([[Dedup.appendToLshIndex]]'s `subdir`),
  * survivors, ingest watermarks — and every index probe EXCLUDES the
  * current batch id. A replayed micro-batch therefore recomputes from
  * exactly the pre-batch state and overwrites its own outputs: a crash
  * at any point between writes changes nothing about the final state.
  *
  * Near-dedup parity: index-match pairs join the in-batch pair graph
  * as edges (not a pre-filter), so a batch doc bridged to an earlier
  * corpus doc through ANOTHER batch doc inherits the global component
  * — transitive chains resolve exactly as the batch funnel does.
  * Components ANCHORED to an index doc drop all their batch members
  * (the indexed survivor was already emitted and cannot be retracted);
  * unanchored components elect the min-id member. Survivor-set
  * equality with [[CorpusPipeline.prepare]] then holds whenever
  * batches arrive in id order (the backfill/ingest norm): the anchor
  * IS the component minimum under id-ordered arrival, so anchoring and
  * min-id election coincide. Out-of-order arrival still yields a valid
  * greedy dedup — first-INGESTED wins and no near-dup pair survives,
  * in any order (spec-pinned on scrambled shards) — but may keep a
  * different member than the batch run would; the funnel DETECTS it —
  * each batch's id range is persisted and [[BatchStats.nOutOfOrder]]
  * counts arrivals below the prior watermark, so a deployment can
  * alert instead of silently diverging.
  */
object StreamingFunnel {

  final case class BatchStats(batchId: Long, nInput: Long, nLang: Long,
    nQuality: Long, nExact: Long, nNear: Long, ms: Long,
    nOutOfOrder: Long = 0L)

  private def exists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Process ONE micro-batch (also the unit the spec drives directly):
    * returns the per-stage stats. Exposed separately from [[attach]] so
    * a foreachBatch caller can compose extra sinks around it.
    *
    * `bm25Dir`: also maintain a persisted BM25 text index over the
    * emitted SURVIVORS ([[graft.operators.Bm25Index.appendBatch]]) —
    * the same `batch=<id>` overwrite idempotency as every other write
    * here, so a real ingest gets its retrieval index from the same
    * foreachBatch instead of a second standalone program.
    */
  def processBatch(batch: DataFrame, batchId: Long, cfg: CorpusPipeline.Config,
      indexDir: String, survivorsDir: String,
      bm25Dir: Option[String] = None): BatchStats = {
    val t0 = System.nanoTime()
    val spark = batch.sparkSession
    import spark.implicits._
    // batch-scoped storage hygiene: this funnel (and the index probe
    // inside it) pins several batch-sized localCheckpoints as
    // materialization barriers; without explicit cleanup every
    // micro-batch LEAKS those blocks (disk-backed blocks are never
    // evicted), so months of ingest accumulate a full copy of history
    // in the block store. Snapshot the persisted-RDD ids at entry and
    // drop exactly the ones this batch created — user-held caches
    // outside the batch are untouched. Everything the checkpoints feed
    // is fully materialized before the method returns (stats scalars +
    // parquet writes), so nothing lazy escapes the cleanup.
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    // the batch's async index writes read its checkpoints: on a throw,
    // the writes not yet started are skipped and the running ones are
    // joined BEFORE the cleanup below drops what they read — and before
    // a replay of this batch can write the same batch=<id> runs
    val writes = new IndexWrites(spark)
    try processBatchInner(batch, batchId, cfg, indexDir, survivorsDir,
      bm25Dir, t0, writes)
    catch { case t: Throwable => writes.abort(t); throw t }
    finally {
      val after = spark.sparkContext.getPersistentRDDs
      (after.keySet -- rddsBefore).foreach(id =>
        after.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  private def processBatchInner(batch: DataFrame, batchId: Long,
      cfg: CorpusPipeline.Config, indexDir: String, survivorsDir: String,
      bm25Dir: Option[String], t0: Long, writes: IndexWrites): BatchStats = {
    val spark = batch.sparkSession
    import spark.implicits._

    // ingest-order watermark: batches before this one (replay-safe:
    // own batch id excluded) — arrivals below it are out of order.
    // Every cross-batch dir resolves through IndexLifecycle: identity
    // until the first full compaction, the current generation after;
    // within a root, the run MANIFEST (when present) names the exact
    // live run set — folded-away runs linger on disk for in-flight
    // readers and must not be re-read.
    IndexLifecycle.recoverLegacySwap(spark, s"$indexDir/hashes")
    IndexLifecycle.recoverLegacySwap(spark, s"$indexDir/ingest")
    val ingestDir =
      IndexLifecycle.resolveRoot(spark, s"$indexDir/ingest")
    val ingestSrc: Option[DataFrame] = RunManifest.read(spark, ingestDir)
      .map(_.live.filterNot(_.id == batchId)) match {
        case Some(runs) =>
          if (runs.isEmpty) None
          else Some(RunManifest.readData(spark, ingestDir, "", runs,
            Seq("max_id")))
        case None =>
          if (!exists(spark, ingestDir)) None
          else {
            RunManifest.requireNoFoldOrphans(spark, ingestDir, "")
            Some(spark.read.parquet(ingestDir)
              .where(col("batch") =!= lit(batchId)).select("max_id"))
          }
      }
    val prevMax: Option[Long] = ingestSrc
      .flatMap(_.agg(max("max_id")).collect().headOption)
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // the language-survivor AND quality-survivor counts ride the SAME
    // entry aggregation as the ordering stats (both filters are
    // row-local predicates; the token-stats struct is computed once
    // per row in the projection below, on language survivors only —
    // r15, folding what was a dedicated checkpoint job plus a count()
    // scan into this one action): one batch scan instead of three,
    // three driver round-trips fewer per micro-batch
    val ord = batch
      .withColumn("_lq", when(CorpusPipeline.languagePredicate(cfg),
        CorpusPipeline.tokenStats(col("text"))))
      .agg(
        count(lit(1)), min("doc_id"), max("doc_id"),
        coalesce(sum((col("doc_id") < lit(prevMax.getOrElse(Long.MinValue)))
          .cast("long")), lit(0L)),
        coalesce(sum(CorpusPipeline.languagePredicate(cfg).cast("long")),
          lit(0L)),
        coalesce(sum(CorpusPipeline.qualityPredicate(col("_lq"), cfg)
          .cast("long")), lit(0L))).collect()(0)
    val nInput = ord.getLong(0)
    val nOutOfOrder = if (prevMax.isEmpty) 0L else ord.getLong(3)
    val nLang = ord.getLong(4)
    val nQuality = ord.getLong(5)

    val lang = CorpusPipeline.languageFiltered(batch, cfg)
    // no checkpoint and no count() here (r15): nQuality came from the
    // entry aggregation above, and the quality projection's only
    // remaining consumer is the exact-dedup stage, whose persist() is
    // the computed-once barrier — the eager checkpoint was a whole
    // dedicated batch materialization job per micro-batch
    val qual = CorpusPipeline.qualityFiltered(lang, cfg)

    // exact dedup: min-id per digest within the batch, then anti-join
    // the persisted hash index (the O3 exists-check pattern — batch
    // keys probe the index, never the reverse). Same sub-linear probe
    // shape as the LSH index: the rolling hash bloom first drops every
    // batch digest provably absent from history (those rows survive
    // the anti-join against ANY subset of the index, so pruning can't
    // lose them), and only the bloom survivors' hp prefixes are read —
    // without this every micro-batch re-scanned the full digest
    // history.
    val hashDir = IndexLifecycle.resolveRoot(spark, s"$indexDir/hashes")
    val inBatch = CorpusPipeline.exactDeduped(qual)
      .withColumn("_h", md5(col("text"))).persist()
    val hashRuns = RunManifest.read(spark, hashDir)
      .map(_.live.filterNot(_.id == batchId))
    val exactObs = org.apache.spark.sql.Observation()
    val exact = (hashRuns match {
      case Some(runs) if runs.nonEmpty =>
        val bloom = RollingBloom.readBroadcast(spark,
          s"$indexDir/hashbloom", Some(batchId))
        val suspects = bloom match {
          case Some(b) =>
            val mc = udf((h: String) => b.value.mightContainString(h))
            inBatch.where(mc(col("_h")))
          case None => inBatch
        }
        // ONE job: suspect count + the touched-prefix set per modulus
        // group (merged runs carry their own recorded modulus; append
        // runs are unpartitioned and read whole — they are
        // micro-batch-sized by construction)
        val (nSusp, touched) = RunManifest.touchedSets(
          suspects, col("_h"), runs.flatMap(_.prefixes))
        if (bloom.isDefined && nSusp == 0L)
          // fast path: the bloom (no false negatives) proves no batch
          // digest exists in history — skip the index read AND the
          // anti-join entirely
          inBatch
        else {
          val idx = RunManifest.readData(spark, hashDir, "", runs,
            Seq("_h"), "hp", m => touched.getOrElse(m, Nil))
          inBatch.join(idx, Seq("_h"), "left_anti")
        }
      case Some(_) => inBatch // only this batch's own run (replay)
      case None if exists(spark, hashDir) =>
        // legacy (pre-manifest) layout: glob + recorded-modulus prune
        // — only correct fold-free (lost manifests fail loudly)
        RunManifest.requireNoFoldOrphans(spark, hashDir, "")
        val idx0 = spark.read.parquet(hashDir)
          .where(col("batch") =!= lit(batchId))
        val idx = (RollingBloom.readBroadcast(spark, s"$indexDir/hashbloom",
            Some(batchId)), readHashPrefixes(spark, hashDir)) match {
          case (Some(b), Some(p))
              if idx0.schema.fieldNames.contains("hp") =>
            val mc = udf((h: String) => b.value.mightContainString(h))
            val touched = inBatch.where(mc(col("_h")))
              .select(pmod(hash(col("_h")), lit(p)).as("hp"))
              .agg(collect_set(col("hp"))).collect()(0).getSeq[Int](0)
            idx0.where(col("hp").isin(touched: _*))
          case _ => idx0
        }
        inBatch.join(idx.select("_h"), Seq("_h"), "left_anti")
      case None => inBatch
    }).observe(exactObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    // the eager checkpoint IS the counting action (r15): the observed
    // metric rides the checkpoint's own materialization job (the
    // CollectMetrics node sits at the TOP of the checkpointed plan,
    // never under a cache, so the action always reports it), replacing
    // the dedicated cached-scan count() job; the exact count still
    // replaces writeHashBatch's own isEmpty probe
    val nExact = exactObs.get("n").asInstanceOf[Long]
    // the hash-index write shares no state with the near-dedup stages
    // below — overlap them (guide §2.6): submit it to the write pool
    // and join before the batch commits
    if (nExact > 0L)
      writes.submit(s"funnel: hash-index write batch=$batchId") {
        writeHashBatch(exact.select("_h"), indexDir, batchId,
          skipEmptyCheck = true)
      }
    val docs = exact.drop("_h")

    // near dedup: index-match pairs UNION the in-batch pair graph, one
    // component pass elects keepers — a batch doc whose component
    // reaches any earlier corpus doc (directly or through other batch
    // docs) inherits the global component, so transitive chains
    // resolve exactly as the batch funnel does. Pairs come from ALL
    // exact survivors (not just eventual keepers) so chains through
    // dropped docs still bridge.
    //
    // Components ANCHORED to an index doc drop ALL their batch
    // members, never min-id-elect: the indexed doc was already emitted
    // as a survivor and cannot be retracted, so electing a batch doc
    // with a smaller id (possible only under out-of-order arrival)
    // would emit BOTH sides of a near-dup pair. Under id-ordered
    // ingest the anchor is the component minimum anyway, so this is
    // exactly the batch funnel's min-id election; out of order it is
    // the first-ingested-wins greedy the header contract promises.
    val lshDir = s"$indexDir/lsh"
    // ONE batch shingle pass (persisted) feeds all three near-dedup
    // consumers — the in-batch pair graph, the index probe and the
    // index append each re-shingled `docs` before (three tokenize+
    // minhash passes per micro-batch; the batch-scoped cleanup above
    // reclaims the cached blocks)
    val sh = Dedup.shingledUnpinned(docs, "doc_id", "text").persist()
    val inBatchPairs = Dedup
      .minhashLshPairsShingled(sh, cfg.dedupThreshold)
      .select("ida", "idb")
    val idxObs = org.apache.spark.sql.Observation()
    val (idxPairs, nIdxPairs) =
      if (exists(spark,
          s"${IndexLifecycle.resolveRoot(spark, lshDir)}/bands")) {
        val pairs = Dedup.dedupAgainstIndexShingled(sh, lshDir,
            cfg.dedupThreshold, excludeBatch = Some(batchId))
          .select(col("batch_id").as("ida"), col("corpus_id").as("idb"))
          .observe(idxObs, count(lit(1)).as("n"))
          .localCheckpoint(true) // feeds both the edge set and the anchors
        (pairs, idxObs.get("n").asInstanceOf[Long])
      } else (spark.emptyDataset[(Long, Long)].toDF("ida", "idb"), 0L)
    // ALL exact-surviving docs enter the index (survivors-only appends
    // would blind later batches to dropped members' neighbors), into
    // this batch's own overwrite-on-replay subtree; nExact gates the
    // emptiness contract, replacing the append's own isEmpty job.
    // Submitted on the write pool HERE — after the idxPairs checkpoint
    // above has materialized every index read the probe makes, so the
    // append (a writer to the same lsh root) cannot race them — to
    // overlap the survivor election and the batch's sinks below
    // (guide §2.6); joined before the batch commits
    if (nExact > 0L)
      writes.submit(s"funnel: lsh-index append batch=$batchId") {
        Dedup.appendShingledToLshIndex(sh, lshDir, subdir = Some(batchId))
      }
    // the edge bound comes from counts already in hand — the in-batch
    // pairs are distinct (ida < idb) pairs of the nExact docs — so a
    // batch-sized graph is elected on the driver without a count job
    // over the edges (Dedup.survivorsAgainstIndex)
    val maxEdges = (BigInt(nExact) * (nExact - 1) / 2 + nIdxPairs)
      .min(BigInt(Long.MaxValue)).toLong
    val nearObs = org.apache.spark.sql.Observation()
    val survivors = Dedup
      .survivorsAgainstIndex(docs, "doc_id", inBatchPairs, idxPairs,
        maxEdges)
      .observe(nearObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    // same discipline as nExact: the survivor count rides the eager
    // checkpoint's materialization instead of a dedicated count() job
    val nNear = nearObs.get("n").asInstanceOf[Long]
    survivors.write.mode(SaveMode.Overwrite)
      .parquet(s"$survivorsDir/batch=$batchId")
    // the retrieval index rides the same batch: survivors only (the
    // index serves the EMITTED corpus), its own overwrite subtree,
    // its guard probing with this batch id excluded
    bm25Dir.foreach(d => graft.operators.Bm25Index.appendBatch(
      survivors, "doc_id", "text", d, batchId))
    Seq((ord.getLong(1), ord.getLong(2))).toDF("min_id", "max_id")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$ingestDir/batch=$batchId")
    RunManifest.addRun(spark, ingestDir, Seq(""), batchId, None)
    // a failed async index write must fail the trigger (the replay
    // recomputes and overwrites), never be swallowed by the pool
    writes.await()
    BatchStats(batchId, nInput, nLang, nQuality, nExact, nNear,
      (System.nanoTime() - t0) / 1000000, nOutOfOrder)
  }

  /** The pool behind the batch's two nExact-gated index writes (hash
    * run + LSH append): both are independent of the near-dedup stages
    * they overlap and of each other, so the only constraint is the
    * join before the trigger commits ([[IndexWrites]]). Two threads —
    * exactly the two writes a batch can have in flight.
    */
  private lazy val indexWritePool =
    java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-funnel-index-write")
      t.setDaemon(true)
      t
    })

  /** One batch's writes on [[indexWritePool]] (guide §2.6 — the
    * scheduler happily runs several jobs at once; actions are only
    * sequential because driver code calls them sequentially). Every
    * submitted write is joined on every path: [[await]] when the batch
    * commits, [[abort]] when it throws.
    */
  private final class IndexWrites(spark: org.apache.spark.sql.SparkSession) {
    private val aborted = new java.util.concurrent.atomic.AtomicBoolean
    private val futures =
      scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]

    /** Job descriptions are thread-local, so the label tags exactly
      * this write's jobs. A write still queued when the batch aborts
      * never starts.
      */
    def submit(desc: String)(work: => Unit): Unit =
      futures += indexWritePool.submit(new Runnable {
        def run(): Unit = if (!aborted.get) {
          spark.sparkContext.setJobDescription(desc)
          try work finally spark.sparkContext.setJobDescription(null)
        }
      })

    /** Wait for every write; the first failure fails the batch. */
    def await(): Unit = futures.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

    /** The batch failed with `cause`: skip the writes not yet started,
      * wait for the running ones, and attach their own failures to
      * `cause`.
      */
    def abort(cause: Throwable): Unit = {
      aborted.set(true)
      val it = futures.iterator
      var interrupted = false
      while (it.hasNext && !interrupted)
        try it.next().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (e.getCause ne cause) cause.addSuppressed(e.getCause)
          case _: InterruptedException =>
            // the stream is stopping: stop waiting, keep the flag
            interrupted = true
            Thread.currentThread().interrupt()
        }
    }
  }

  /** Expected distinct documents for the hash index's rolling bloom —
    * `spark.graft.hash.bloomCapacity`, default AUTO (-1): the first
    * roll sizes to 16x its own key count (recorded in the bloom meta;
    * compaction re-sizes to the full corpus — [[RollingBloom.roll]]).
    * Set explicitly when the deployment corpus size is known up front;
    * over-full only degrades pruning.
    */
  def hashBloomCapacity(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.hash.bloomCapacity")
      .map(_.toLong).getOrElse(-1L)

  /** The hp-prefix modulus the hash index was built with (recorded at
    * first write, like the LSH `_graft_lsh_meta` — probes never read
    * the live conf, so a conf change cannot mis-prune). None = legacy
    * unpartitioned layout: probes fall back to the full read.
    */
  def readHashPrefixes(spark: org.apache.spark.sql.SparkSession,
      hashDir: String): Option[Int] = {
    val root = IndexLifecycle.resolveRoot(spark, hashDir)
    IndexLifecycle.readProps(spark, s"$root/_graft_hash_meta")
      .flatMap(_.get("prefixes")).map(_.toInt)
  }

  /** Write one batch's digests into the hash index: an UNPARTITIONED
    * run under its own overwrite-on-replay `batch=<id>` subtree
    * (micro-batches sit far below the prefix-partition size target, so
    * per-batch prefix partitioning bought no pruning and cost a
    * shuffle + a fan-out of small files per batch — tier folds rewrite
    * the merged runs prefix-partitioned instead), plus the rolling
    * bloom snapshot and the run-manifest entry. The unit the replay
    * spec also drives directly to simulate a half-written crash.
    */
  def writeHashBatch(hashes: DataFrame, indexDir: String,
      batchId: Long, skipEmptyCheck: Boolean = false): Unit = {
    val spark = hashes.sparkSession
    val hashDir = IndexLifecycle.resolveRoot(spark, s"$indexDir/hashes")
    // an EMPTY batch must not write at all: zero-row writes leave a
    // run with no data files and later reads die on schema inference.
    // Replays recompute empty and skip again, so idempotency holds.
    // `skipEmptyCheck`: the funnel already holds the batch's exact
    // count and only calls in when it is positive — one isEmpty job
    // per micro-batch saved.
    if (!skipEmptyCheck && hashes.isEmpty) return
    val keys = hashes.select(col("_h"))
    RunManifest.sizedWrite(keys, RunManifest.runPath(hashDir, "", batchId))
    RollingBloom.roll(spark, s"$indexDir/hashbloom", keys, "_h",
      Some(batchId), hashBloomCapacity(spark), 0.03)
    RunManifest.addRun(spark, hashDir, Seq(""), batchId,
      readHashPrefixes(spark, hashDir))
  }

  /** The hash-index merge for one fold group: distinct digests,
    * rewritten hash-prefix-partitioned at a modulus derived from the
    * MERGED size (conf wins when set) — how the probe's partition
    * pruning upgrades as the index grows without a global rewrite.
    */
  private def mergeHashRuns(spark: org.apache.spark.sql.SparkSession,
      hashRoot: String)(runs: Seq[RunManifest.Run], newId: Long)
      : Option[Int] = {
    val prefixes = spark.conf.getOption("spark.graft.lsh.indexPrefixes")
      .map(_.toInt).orElse(IndexLifecycle.derivePrefixesForRun(spark,
        BigInt(runs.map(_.bytes).sum)))
    val merged = RunManifest.readData(spark, hashRoot, "", runs,
      Seq("_h")).distinct()
    val out = RunManifest.runPath(hashRoot, "", newId)
    prefixes match {
      case Some(p) =>
        merged.withColumn("hp", pmod(hash(col("_h")), lit(p)))
          .repartition(col("hp"))
          .write.mode(SaveMode.Overwrite).partitionBy("hp").parquet(out)
      case None => RunManifest.sizedWrite(merged, out)
    }
    prefixes
  }

  /** The ingest-watermark merge: the fold reduces to one row (global
    * min/max) — the watermark only ever needs the max; min kept for
    * the schema contract.
    */
  private def mergeIngestRuns(spark: org.apache.spark.sql.SparkSession,
      ingRoot: String)(runs: Seq[RunManifest.Run], newId: Long)
      : Option[Int] = {
    RunManifest.readData(spark, ingRoot, "", runs, Seq("min_id", "max_id"))
      .agg(min("min_id").as("min_id"), max("max_id").as("max_id"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(RunManifest.runPath(ingRoot, "", newId))
    None
  }

  /** One TIERED maintenance cycle over the funnel's cross-batch state
    * — what [[attach]] runs at the [[compactEvery]] cadence. Folds
    * only the run tiers whose member count tripped the threshold
    * ([[RunManifest.tierMaintain]]): per-cycle work is proportional to
    * the data appended since the last cycle, large runs are left in
    * place (their partition layout is already probe-optimal), and the
    * commit is one atomic manifest swap per index — a probe racing the
    * cycle reads either the old or the new run set, never a torn or
    * double-counted one. Blooms are untouched (they are already
    * incremental — a fold moves keys between files, the key SET is
    * unchanged).
    *
    * `excludeFrom`: runs with id >= this are never folded — inside a
    * stream, pass the in-flight trigger id (it may not have committed;
    * a replay probes with its own id excluded and must still find
    * exactly the pre-batch state). Offline, pass `Long.MaxValue`.
    *
    * Returns the number of fold groups committed across the indexes.
    */
  def maintain(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, excludeFrom: Long = Long.MaxValue,
      bm25Dir: Option[String] = None): Int = {
    var folds = 0
    val hashLogical = s"$indexDir/hashes"
    IndexLifecycle.recoverLegacySwap(spark, hashLogical)
    val hashRoot = IndexLifecycle.resolveRoot(spark, hashLogical)
    if (RunManifest.ensureStreaming(spark, hashRoot, Seq(""),
        readHashPrefixes(spark, hashRoot)).isDefined)
      folds += RunManifest.tierMaintain(spark, hashRoot, Seq(""),
        excludeFrom)(mergeHashRuns(spark, hashRoot))
    val ingLogical = s"$indexDir/ingest"
    IndexLifecycle.recoverLegacySwap(spark, ingLogical)
    val ingRoot = IndexLifecycle.resolveRoot(spark, ingLogical)
    if (RunManifest.ensureStreaming(spark, ingRoot, Seq(""), None)
        .isDefined)
      folds += RunManifest.tierMaintain(spark, ingRoot, Seq(""),
        excludeFrom)(mergeIngestRuns(spark, ingRoot))
    folds += Dedup.maintainLshIndex(spark, s"$indexDir/lsh", excludeFrom)
    bm25Dir.foreach(d => folds +=
      graft.operators.Bm25Index.maintainIndex(spark, d, excludeFrom))
    folds
  }

  /** Deep-OPTIMIZE of the funnel's cross-batch state: fold EVERYTHING
    * (except the optionally-excluded in-flight batch) into one
    * freshly-partitioned run per index, and rebuild the rolling hash
    * bloom from the folded digests (resetting fpp drift from
    * replay-superseded snapshots and, for auto-sized geometry,
    * re-sizing it to the full corpus — the one maintenance step the
    * tiered cycle deliberately skips). O(index) by nature — run it
    * OFFLINE from the single writer, not on a cadence; [[maintain]]
    * is the cadence step.
    *
    * Pre-manifest (r12-layout) indexes take the original
    * generation-pointer rewrite instead ([[IndexLifecycle
    * .compactInto]]); manifest indexes commit in place by manifest
    * swap — same reader-atomicity, no tree copy.
    *
    * `excludeBatch` — REQUIRED when called from inside a foreachBatch:
    * that batch's run is left untouched because the trigger may not
    * have committed yet and a replay probes with its own batch id
    * excluded — folding the whole history under one id would make the
    * replay see a torn state.
    */
  def compact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, excludeBatch: Option[Long] = None,
      bm25Dir: Option[String] = None): Unit = {
    val excludeFrom = excludeBatch.getOrElse(Long.MaxValue)
    def batchIds(root: String): Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .collect { case s if s.startsWith("batch=") =>
          s.stripPrefix("batch=").toLong }
    }
    def splitSrc(src: DataFrame): (DataFrame, Option[(Long, DataFrame)]) =
      excludeBatch match {
        case Some(id) => (src.where(col("batch") =!= lit(id)),
          Some((id, src.where(col("batch") === lit(id)))))
        case None => (src, None)
      }

    val hashLogical = s"$indexDir/hashes"
    IndexLifecycle.recoverLegacySwap(spark, hashLogical)
    val hashRoot = IndexLifecycle.resolveRoot(spark, hashLogical)
    RunManifest.read(spark, hashRoot) match {
      case Some(_) =>
        RunManifest.foldAll(spark, hashRoot, Seq(""),
          excludeFrom)(mergeHashRuns(spark, hashRoot))
        RunManifest.read(spark, hashRoot).foreach { man =>
          val fold = man.live.filter(_.id < excludeFrom)
          if (fold.nonEmpty) {
            // rebuild the bloom from the folded digests, labeled with
            // the merged run's id (negative — no probe's excludeBatch
            // can ever drop it). Held-out digests are included: a
            // replay sees its own keys as bloom positives — weaker
            // pruning for that one replay, never wrong results.
            RollingBloom.clear(spark, s"$indexDir/hashbloom")
            RollingBloom.roll(spark, s"$indexDir/hashbloom",
              RunManifest.readData(spark, hashRoot, "", man.live,
                Seq("_h")),
              "_h", Some(fold.map(_.id).min), hashBloomCapacity(spark),
              0.03)
          }
        }
      case None =>
        val hashFold = batchIds(hashRoot).filterNot(excludeBatch.contains)
        if (hashFold.nonEmpty) {
          val keep = hashFold.max
          // re-derive the hp modulus from the ledger's real on-disk
          // size (conf still wins) — same upgrade-as-it-grows
          // rationale as compactLshIndex
          val prefixes = readHashPrefixes(spark, hashLogical).map { _ =>
            spark.conf.getOption("spark.graft.lsh.indexPrefixes")
              .map(_.toInt)
              .getOrElse(IndexLifecycle.derivePrefixes(spark,
                BigInt(IndexLifecycle.dirBytes(spark, hashRoot))))
          }
          IndexLifecycle.compactInto(spark, hashLogical)(
            n => n.startsWith("batch=") || n == "_graft_hash_meta") { out =>
            val (folded, held) = splitSrc(spark.read.parquet(hashRoot))
            def writeSub(df: DataFrame, sub: Long): Unit =
              if (df.schema.fieldNames.contains("hp") && prefixes.isDefined)
                df.select(col("_h")).distinct()
                  .withColumn("hp",
                    pmod(hash(col("_h")), lit(prefixes.get)))
                  .repartition(col("hp"))
                  .write.mode(SaveMode.Overwrite).partitionBy("hp")
                  .parquet(s"$out/batch=$sub")
              else df.select("_h").distinct()
                .write.mode(SaveMode.Overwrite).parquet(s"$out/batch=$sub")
            writeSub(folded, keep)
            held.foreach { case (id, df) => writeSub(df, id) }
            prefixes.foreach(n => IndexLifecycle.writeProps(spark,
              s"$out/_graft_hash_meta", Seq("prefixes" -> n.toString)))
          }
          RollingBloom.clear(spark, s"$indexDir/hashbloom")
          RollingBloom.roll(spark, s"$indexDir/hashbloom",
            spark.read.parquet(
              IndexLifecycle.resolveRoot(spark, hashLogical)),
            "_h", Some(keep), hashBloomCapacity(spark), 0.03)
        }
    }

    val ingLogical = s"$indexDir/ingest"
    IndexLifecycle.recoverLegacySwap(spark, ingLogical)
    val ingRoot = IndexLifecycle.resolveRoot(spark, ingLogical)
    RunManifest.read(spark, ingRoot) match {
      case Some(_) =>
        RunManifest.foldAll(spark, ingRoot, Seq(""),
          excludeFrom)(mergeIngestRuns(spark, ingRoot))
      case None =>
        val ingFold = batchIds(ingRoot).filterNot(excludeBatch.contains)
        if (ingFold.nonEmpty)
          IndexLifecycle.compactInto(spark, ingLogical)(
            _.startsWith("batch=")) { out =>
            val (folded, held) = splitSrc(spark.read.parquet(ingRoot))
            folded.agg(min("min_id").as("min_id"),
                max("max_id").as("max_id"))
              .coalesce(1).write.mode(SaveMode.Overwrite)
              .parquet(s"$out/batch=${ingFold.max}")
            held.foreach { case (id, df) =>
              df.select("min_id", "max_id")
                .coalesce(1).write.mode(SaveMode.Overwrite)
                .parquet(s"$out/batch=$id")
            }
          }
    }

    // guards for a cadence point reached before any batch wrote data
    val lshLogical = s"$indexDir/lsh"
    IndexLifecycle.recoverLegacySwap(spark, lshLogical)
    if (exists(spark,
        s"${IndexLifecycle.resolveRoot(spark, lshLogical)}/bands"))
      Dedup.compactLshIndex(spark, lshLogical, excludeBatch)
    bm25Dir.foreach { d =>
      IndexLifecycle.recoverLegacySwap(spark, d)
      if (exists(spark,
          s"${IndexLifecycle.resolveRoot(spark, d)}/postings"))
        graft.operators.Bm25Index.compactIndex(spark, d, excludeBatch)
    }
  }

  /** Maintenance cadence for [[attach]] —
    * `spark.graft.funnel.compactEvery`, default every 10 micro-batches
    * (without ANY maintenance the accumulated per-batch runs grow
    * listing cost linearly in batch count — docs/SCALING.md). `<= 0`
    * disables, restoring maintenance as a manual operator step.
    */
  def compactEvery(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.funnel.compactEvery")
      .map(_.toInt).getOrElse(10)

  /** What the cadence runs — `spark.graft.funnel.maintenance`:
    * `tiered` (default — [[maintain]]'s amortized run folds), `full`
    * (r12 behavior: [[compact]]'s whole-index rewrite every cycle —
    * only for small deployments that want maximal read locality), or
    * `off`.
    */
  def maintenanceMode(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.funnel.maintenance")
      .getOrElse("tiered")

  /** Run tiered maintenance on a background thread instead of inside
    * the foreachBatch — `spark.graft.funnel.asyncMaintenance`, default
    * true: ingest never stalls for a fold. Safe because folds touch
    * only runs below the trigger id, appends only create runs at or
    * above it, and every manifest read-modify-write is locked — the
    * single-WRITER contract holds per file even with the two threads.
    */
  def asyncMaintenance(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("spark.graft.funnel.asyncMaintenance")
      .forall(_.toBoolean)

  private lazy val maintenancePool =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-funnel-maintenance")
      t.setDaemon(true)
      t
    })
  private val maintenanceInFlight = new java.util.concurrent
    .ConcurrentHashMap[String, java.util.concurrent.Future[_]]()

  /** Operational readout of [[attach]]'s automatic maintenance, per
    * index root: cycles that completed, total and CONSECUTIVE failure
    * counts, and the last failure's rendering. Best-effort background
    * maintenance must not fail the stream, but it must not be
    * invisible either — a deployment whose folds fail every cycle
    * (say, a permission regression on the index root) would otherwise
    * grow run counts and file listings without bound with nothing but
    * a stderr line to notice. Alert on `consecutiveFailures` the way
    * you alert on watermark lag.
    */
  final case class MaintenanceStats(cycles: Long = 0L, failures: Long = 0L,
      consecutiveFailures: Long = 0L, lastError: Option[String] = None)

  private val maintStats = new java.util.concurrent
    .ConcurrentHashMap[String, MaintenanceStats]()

  def maintenanceStats(indexDir: String): MaintenanceStats =
    maintStats.getOrDefault(indexDir, MaintenanceStats())

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamingFunnel")

  /** Fail the STREAM (loudly, from the foreachBatch) once this many
    * CONSECUTIVE automatic maintenance cycles have failed —
    * `spark.graft.funnel.failAfterMaintenanceFailures`, default 0 =
    * never (failures only surface through [[maintenanceStats]] and the
    * error log; ingest keeps running). Set it when unbounded run
    * growth is worse for the deployment than a stopped stream.
    */
  def failAfterMaintenanceFailures(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.funnel.failAfterMaintenanceFailures")
      .map(_.toLong).getOrElse(0L)

  /** One recorded maintenance cycle — the unit [[attach]] submits
    * (async) or runs inline (sync): success resets the consecutive
    * counter, failure bumps it, logs through the Spark/slf4j logger,
    * and rethrows only when `rethrow` (the sync path, where the stream
    * SHOULD fail — the caller opted out of best-effort).
    */
  private[graft] def runMaintenanceCycle(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      excludeFrom: Long, bm25Dir: Option[String],
      rethrow: Boolean): Unit =
    try {
      maintain(spark, indexDir, excludeFrom, bm25Dir)
      maintStats.compute(indexDir, (_, s0) => {
        val s = Option(s0).getOrElse(MaintenanceStats())
        s.copy(cycles = s.cycles + 1, consecutiveFailures = 0L)
      })
    } catch {
      case t: Throwable =>
        val s = maintStats.compute(indexDir, (_, s0) => {
          val s1 = Option(s0).getOrElse(MaintenanceStats())
          s1.copy(failures = s1.failures + 1,
            consecutiveFailures = s1.consecutiveFailures + 1,
            lastError = Some(t.toString))
        })
        // best-effort posture (async): a failed fold leaves the old
        // manifest live and unreferenced garbage the next cycle
        // reclaims — never fail the stream for it, but do surface it
        log.error(s"graft index maintenance of $indexDir failed " +
          s"(${s.consecutiveFailures} consecutive, ${s.failures} total)",
          t)
        if (rethrow) throw t
    }

  /** Block until every queued background maintenance cycle finished —
    * for harness/spec shutdown (a deployment never needs it: the
    * manifest is consistent at every instant, and an interrupted fold
    * just leaves unreferenced data the next cycle reclaims).
    */
  def drainMaintenance(): Unit = {
    val it = maintenanceInFlight.values().iterator()
    while (it.hasNext) {
      try it.next().get()
      catch { case _: java.util.concurrent.ExecutionException => () }
    }
  }

  /** Wire the funnel onto a streaming frame as a foreachBatch sink.
    * AvailableNow by default (drain the backlog, then stop — the
    * batch-parity harness shape); pass a processing-time trigger for a
    * continuously-fed deployment. Index maintenance is automatic:
    * every [[compactEvery]] batches one tiered cycle runs (by default
    * on the background thread, so the NEXT batch is never waiting on a
    * fold) — a deployment no longer degrades just because nobody
    * scheduled the OPTIMIZE step. A replayed trigger at the cadence
    * point re-runs maintenance, which is result-invisible and
    * idempotent; if a cycle is still running when the next cadence
    * fires, the new trigger is skipped (the running cycle's plan
    * already covers most of its work, and the one after catches up).
    */
  def attach(stream: DataFrame, cfg: CorpusPipeline.Config,
      indexDir: String, survivorsDir: String, checkpointDir: String,
      onBatch: BatchStats => Unit = _ => (),
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      bm25Dir: Option[String] = None): StreamingQuery =
    stream.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          if (!batch.isEmpty)
            onBatch(processBatch(batch.toDF(), id, cfg, indexDir,
              survivorsDir, bm25Dir))
          // the cadence is evaluated OUTSIDE the non-empty guard:
          // maintenance needs no batch data, and an empty batch
          // landing exactly on the cadence point must not defer it a
          // full cycle (a periodic quiet source could defer it
          // forever while run counts keep growing)
          val spark = batch.sparkSession
          // escalation gate: best-effort background maintenance never
          // fails the stream on its own, but a deployment can opt into
          // a hard stop after N consecutive failed cycles — checked
          // HERE (on the stream thread) so the failure is a normal
          // query termination, not a swallowed background throw
          val failAfter = failAfterMaintenanceFailures(spark)
          val consec = maintenanceStats(indexDir).consecutiveFailures
          if (failAfter > 0 && consec >= failAfter)
            throw new IllegalStateException(
              s"$consec consecutive index-maintenance cycles failed " +
                s"for $indexDir (last: " +
                s"${maintenanceStats(indexDir).lastError.getOrElse("?")})" +
                " — failing the stream per " +
                "spark.graft.funnel.failAfterMaintenanceFailures")
          val every = compactEvery(spark)
          if (every > 0 && (id + 1) % every == 0)
            maintenanceMode(spark) match {
              case "off" => ()
              case "full" =>
                compact(spark, indexDir, excludeBatch = Some(id),
                  bm25Dir = bm25Dir)
              case _ =>
                if (asyncMaintenance(spark)) {
                  val prev = maintenanceInFlight.get(indexDir)
                  if (prev == null || prev.isDone)
                    maintenanceInFlight.put(indexDir,
                      maintenancePool.submit(new Runnable {
                        def run(): Unit = runMaintenanceCycle(spark,
                          indexDir, id, bm25Dir, rethrow = false)
                      }))
                } else runMaintenanceCycle(spark, indexDir, id, bm25Dir,
                  rethrow = true)
            }
          ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
