package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Persisted BM25 index — the retrieval counterpart of the persisted
  * LSH / IVF indexes: tokenize and count ONCE at build time, then any
  * number of query-term probes touch only the postings files whose
  * term range can match.
  *
  * Layout under `path` (all resolved through
  * [[IndexLifecycle.resolveRoot]] — after a compaction the tables
  * live in the current `gen-<n>` subtree):
  *   - `postings/` — (term, doc_id, dl, tf), repartitionByRange(term)
  *     + sortWithinPartitions(term): every parquet file covers a tight
  *     term range, so a probe's `term IN (...)` prunes via row-group
  *     min/max stats instead of scanning the vocabulary.
  *   - `dfs/`      — (term, dft) document frequencies.
  *   - `stats/`    — mergeable (n_docs, sum_dl) partial rows.
  *   - `docids/`   — ingested doc ids, partitioned by
  *     `dp = pmod(hash(doc_id), prefixes)` (`_graft_bm25_meta` records
  *     the modulus), serving the append paths' dedupe guard.
  *   - `docbloom/` — [[RollingBloom]] snapshots over the ingested ids:
  *     the guard screens each batch through the bloom and reads only
  *     the survivors' `dp` prefixes, so re-ingest protection costs
  *     O(batch + matches), not O(index), per append.
  *
  * Two append lifecycles, never mixed in one index (enforced):
  * [[appendToIndex]] (flat — each append adds its own files) and
  * [[appendBatch]] (streaming — every table under overwrite-on-replay
  * `batch=<id>` subtrees, the idempotent unit the corpus funnel's
  * foreachBatch drives). [[compactIndex]] folds either layout.
  *
  * A probe reads |q| terms' postings (file-skipped), broadcasts the
  * |q|-row df table and the 1-row stats, and runs one per-doc hash agg
  * + top-k — work proportional to the query's posting lists, never the
  * corpus. Scoring arithmetic is kept op-for-op identical to the
  * ad-hoc `TextQueries.bm25TopK` so the two paths agree exactly
  * (spec-pinned).
  */
object Bm25Index {

  // one row per doc BEFORE the explode — docs that tokenize to zero
  // tokens keep their row, so index stats count them exactly like the
  // ad-hoc bm25TopK does (r3 advisor: the two paths share one oracle)
  // every consumer shares one tokenize pass (the checkpoint), whose
  // materialization also counts the docs (an observed metric)
  private def tokenizedDocs(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val toks = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
        col("ws"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    (toks, obs.get("n").asInstanceOf[Long])
  }

  // stats are stored MERGEABLE — (n_docs, sum_dl), never a pre-divided
  // average — so appends add partials instead of rebuilding; avgdl is
  // derived at query time. `sub = Some(batchId)` writes each table
  // into its own OVERWRITE `batch=<id>` subtree — the idempotent
  // replay unit streaming ingest needs (a foreachBatch retry
  // overwrites its own subtree instead of double-appending partials).
  private def writeDerived(toks: DataFrame, path: String,
      mode: String, sub: Option[Long] = None): Unit = {
    def tablePath(t: String) = sub match {
      case Some(id) => s"$path/$t/batch=$id"
      case None => s"$path/$t"
    }
    val m = if (sub.isDefined) "overwrite" else mode
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    if (sub.isDefined)
      // streaming run: UNSORTED — a micro-batch run's files are small
      // enough that term-range file-skip buys nothing, while the
      // range write costs a sampling job + a shuffle per batch; the
      // tier fold restores the tight per-file term ranges when runs
      // merge into something worth skipping ([[maintainIndex]])
      RunManifest.sizedWrite(postings, tablePath("postings"))
    else postings
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term")
      .write.mode(m).parquet(tablePath("postings"))
    postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dft"))
      .write.mode(m).parquet(tablePath("dfs"))
    // from the PRE-explode doc list: a dl=0 doc contributes n_docs+1
    // (sum_dl coalesced for the empty-batch append edge)
    toks.agg(count(lit(1)).cast("double").as("n_docs"),
        coalesce(sum("dl"), lit(0.0)).as("sum_dl"))
      .write.mode(m).parquet(tablePath("stats"))
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The index's physical data root ([[IndexLifecycle.resolveRoot]]:
    * identity until the first compaction, the current generation
    * after), healing any pre-generation crash state first — without
    * the recovery, an old-code crash that parked history at
    * `<path>.precompact` would make the next append mistake the empty
    * live path for index CREATION and silently orphan all history.
    */
  private def rootOf(spark: SparkSession, path: String): String = {
    IndexLifecycle.recoverLegacySwap(spark, path)
    IndexLifecycle.resolveRoot(spark, path)
  }

  /** The dp-prefix modulus the ingested-doc-id table was built with —
    * recorded at index creation (probes never read the live conf, so a
    * conf change cannot mis-prune; same discipline as the LSH/hash
    * index metas). None = legacy index without a docids table.
    */
  def readDocPrefixes(spark: SparkSession, path: String): Option[Int] = {
    val root = IndexLifecycle.resolveRoot(spark, path)
    IndexLifecycle.readProps(spark, s"$root/_graft_bm25_meta")
      .flatMap(_.get("prefixes")).map(_.toInt)
  }

  private def writeDocPrefixes(spark: SparkSession, root: String,
      n: Int): Unit =
    IndexLifecycle.writeProps(spark, s"$root/_graft_bm25_meta",
      Seq("prefixes" -> n.toString))

  /** Expected distinct doc ids for the dedupe guard's rolling bloom —
    * `spark.graft.bm25.bloomCapacity`, default AUTO (-1): the first
    * roll sizes to 16x its own key count (recorded in the bloom meta;
    * compaction re-sizes to the full corpus — [[RollingBloom.roll]]).
    * Set explicitly when the corpus size is known up front; over-full
    * only degrades pruning, never results (the bloom has no false
    * negatives, and positives are verified against the real docids
    * table).
    */
  def docBloomCapacity(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.bm25.bloomCapacity")
      .map(_.toLong).getOrElse(-1L)

  // the ingested-id ledger serving the dedupe guard: dp-prefix
  // partitioned so a probe reads only the suspects' prefixes, plus the
  // rolling id bloom that screens the batch first. From the PRE-explode
  // doc list, so zero-token docs are visible to the guard (the postings
  // table, which the legacy guard scanned, cannot see them).
  // `sub = Some(batchId)`: overwrite-on-replay batch subtree + a
  // batch-labeled bloom snapshot (probes exclude their own).
  private def writeDocIds(toks: DataFrame, path: String, prefixes: Int,
      mode: String, sub: Option[Long] = None): Unit = {
    val spark = toks.sparkSession
    sub match {
      case Some(id) =>
        // streaming run: UNPARTITIONED (micro-batch-sized — tier folds
        // rewrite merged runs dp-partitioned, [[maintainIndex]])
        RunManifest.sizedWrite(toks.select(col("doc_id")),
          RunManifest.runPath(path, "docids", id))
      case None =>
        toks.select(col("doc_id"))
          .withColumn("dp", pmod(hash(col("doc_id")), lit(prefixes)))
          .repartition(col("dp"))
          .write.mode(mode).partitionBy("dp").parquet(s"$path/docids")
        if (mode == "overwrite")
          RollingBloom.clear(spark, s"$path/docbloom")
    }
    RollingBloom.roll(spark, s"$path/docbloom", toks.select(col("doc_id")),
      "doc_id", sub, docBloomCapacity(spark), 0.03)
  }

  def write(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val root = rootOf(spark, path)
    val (toks, _) = tokenizedDocs(docs, idCol, textCol)
    writeDerived(toks, root, "overwrite")
    val prefixes = Dedup.lshPrefixesFor(docs)
    writeDocPrefixes(spark, root, prefixes)
    writeDocIds(toks, root, prefixes, "overwrite")
  }

  /** Incremental maintenance: a new document batch appends its own
    * postings files and its own df/stats PARTIAL rows — batch-sized
    * work, no corpus re-tokenization, no rewrite of existing files.
    * The query path re-aggregates the (term, dft) partials and the
    * (n_docs, sum_dl) partials at probe time (|q| + #appends rows —
    * trivial forever).
    *
    * Batches must carry previously-unseen doc_ids; re-ingesting a doc
    * double-counts it. `dedupeAgainstExisting=true` enforces that with
    * an anti-join against the index's ingested-id ledger, probed
    * SUB-LINEARLY in index size (the same screen the LSH/hash indexes
    * use): the rolling id bloom first drops every batch id provably
    * absent from history — those rows survive the anti-join against
    * ANY subset of the ledger, so pruning cannot lose them — and only
    * the bloom survivors' dp prefixes are read. The ledger derives
    * from the pre-explode doc list, so previously-ingested ZERO-token
    * docs are caught too (the old postings-doc-id scan could not see
    * them and was O(index) per append besides). A legacy index without
    * `docids/` falls back to that postings scan and does NOT start a
    * partial ledger — half-covered docids would wrongly re-admit old
    * docs.
    */
  /** The dedupe guard's anti-join, factored out so the plan pin
    * asserts the partition filter on the very frame the append
    * executes: batch rows whose id is NOT already in the index.
    */
  def notYetIngested(docs: DataFrame, idCol: String,
      path0: String, excludeBatch: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    val path = rootOf(spark, path0)
    val prefixes = readDocPrefixes(spark, path)
    def bloomSuspects(batchIds: DataFrame)
        : (Boolean, DataFrame) =
      RollingBloom.readBroadcast(spark,
          s"$path/docbloom", excludeBatch) match {
        case Some(b) =>
          import org.apache.spark.sql.types.{LongType, StringType}
          batchIds.schema("doc_id").dataType match {
            case LongType =>
              val mc = udf((v: Long) => b.value.mightContainLong(v))
              (true, batchIds.where(mc(col("doc_id"))))
            case StringType =>
              val mc = udf((s: String) => b.value.mightContainString(s))
              (true, batchIds.where(mc(col("doc_id"))))
            case _ => (false, batchIds)
          }
        case None => (false, batchIds)
      }
    RunManifest.read(spark, path) match {
      case Some(man) =>
        val runs = man.live.filterNot(r => excludeBatch.contains(r.id))
        if (runs.isEmpty) return docs // replay of the creation batch
        val (screened, suspects) =
          bloomSuspects(docs.select(col(idCol).as("doc_id")))
        // ONE job: suspect count + touched-prefix set per modulus
        // group (append runs are unpartitioned and read whole)
        val (nSusp, touched) = RunManifest.touchedSets(
          suspects, col("doc_id"), runs.flatMap(_.prefixes))
        // fast path: the bloom proves no batch id was ever ingested
        if (screened && nSusp == 0L) return docs
        val seen = RunManifest.readData(spark, path, "docids", runs,
          Seq("doc_id"), "dp", m => touched.getOrElse(m, Nil))
        docs.join(seen, docs(idCol) === seen("doc_id"), "left_anti")
      case None if prefixes.isDefined && exists(spark, s"$path/docids") =>
        // no manifest: glob fallback is only correct when no fold ever
        // happened — fail loudly on fold orphans (lost manifest)
        RunManifest.requireNoFoldOrphans(spark, path, "docids")
        val (_, suspects) =
          bloomSuspects(docs.select(col(idCol).as("doc_id")))
        // one partial+final collect_set — same bounded-prefix
        // discipline as the LSH probe's touched-bp collect
        val touched = suspects
          .select(pmod(hash(col("doc_id")), lit(prefixes.get)).as("dp"))
          .agg(collect_set(col("dp"))).collect()(0).getSeq[Int](0)
        val seen0 = spark.read.parquet(s"$path/docids")
          .where(col("dp").isin(touched: _*))
        // replay safety (streaming layout): a retried batch must not
        // see its own half-written ledger subtree
        val seen = excludeBatch match {
          case Some(id) if seen0.schema.fieldNames.contains("batch") =>
            seen0.where(col("batch") =!= lit(id))
          case _ => seen0
        }
        docs.join(seen, docs(idCol) === seen("doc_id"), "left_anti")
      case None =>
        val seen = spark.read.parquet(s"$path/postings")
          .select(col("doc_id")).distinct()
        docs.join(seen, docs(idCol) === seen("doc_id"), "left_anti")
    }
  }

  /** Streaming append: the batch's postings/dfs/stats partials and its
    * ledger rows land under their own OVERWRITE `batch=<id>` subtrees
    * (the same idempotent replay unit as [[Dedup.appendToLshIndex]]'s
    * `subdir`), the ledger bloom rolls a batch-labeled snapshot, and
    * the re-ingest guard probes the index EXCLUDING this batch id — a
    * foreachBatch retry therefore recomputes from exactly the
    * pre-batch state and overwrites its own remains, even after a
    * half-written crash. Use for ALL appends to a given index or for
    * none (uniform directory depth, enforced); the query path is
    * layout-agnostic (partition discovery just adds a `batch` column
    * the aggregations ignore).
    */
  def appendBatch(docs: DataFrame, idCol: String, textCol: String,
      path0: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    val path = rootOf(spark, path0)
    val creation = !exists(spark, s"$path/postings")
    if (!creation) {
      val p = new org.apache.hadoop.fs.Path(s"$path/postings")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.listStatus(p)
        .exists(_.getPath.getName.startsWith("batch=")),
        s"index at $path0 uses the flat layout — appendBatch requires " +
          "the streaming (batch=) layout from creation")
    }
    val batch = if (creation) docs
      else notYetIngested(docs, idCol, path, Some(batchId))
    val (toks, nDocs) = tokenizedDocs(batch, idCol, textCol)
    // an EMPTY effective batch (every row filtered upstream, or every
    // doc already ingested) must not write: on creation, a zero-row
    // write would leave a docids/ tree with no data files and the
    // NEXT batch's guard read dies on schema inference; appends
    // would just add empty partials. Skip entirely — a replay
    // recomputes empty and skips again, so idempotency holds. The
    // count rides the tokenize checkpoint (no job of its own).
    if (nDocs == 0L) return
    writeDerived(toks, path, "overwrite", Some(batchId))
    val prefixes = readDocPrefixes(spark, path).getOrElse {
      val n = Dedup.lshPrefixesFor(docs)
      writeDocPrefixes(spark, path, n)
      n
    }
    writeDocIds(toks, path, prefixes, "overwrite", Some(batchId))
    RunManifest.addRun(spark, path, bm25Tables, batchId,
      readDocPrefixes(spark, path))
  }

  private val bm25Tables = Seq("postings", "dfs", "stats", "docids")

  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
      path0: String, dedupeAgainstExisting: Boolean = false): Unit = {
    val spark = docs.sparkSession
    val path = rootOf(spark, path0)
    val creation = !exists(spark, s"$path/postings")
    if (!creation) {
      // the mirror of appendBatch's guard: a FLAT append onto an
      // appendBatch-built index would drop loose part files next to
      // its batch=<id> subtrees and corrupt partition discovery for
      // every later query/compaction — fail fast instead
      val p = new org.apache.hadoop.fs.Path(s"$path/postings")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.listStatus(p)
        .exists(_.getPath.getName.startsWith("batch=")),
        s"index at $path0 uses the streaming (batch=) layout — use " +
          "appendBatch for ALL appends to one index")
    }
    val prefixes = readDocPrefixes(spark, path)
    val batch =
      if (!dedupeAgainstExisting || creation) docs
      else notYetIngested(docs, idCol, path)
    val (toks, _) = tokenizedDocs(batch, idCol, textCol)
    writeDerived(toks, path, "append")
    if (creation) {
      val n = Dedup.lshPrefixesFor(docs)
      writeDocPrefixes(spark, path, n)
      writeDocIds(toks, path, n, "overwrite")
    } else prefixes.foreach { n =>
      if (exists(spark, s"$path/docids"))
        writeDocIds(toks, path, n, "append")
    }
  }

  /** Compact an append-accumulated BM25 index back to one file set per
    * table — the maintenance pass months of per-batch appends need
    * (same role as [[Dedup.compactLshIndex]]): every append adds its
    * own postings/dfs/stats/docids files, so file COUNT — listing and
    * footer overhead, not data — becomes the creeping per-probe cost.
    * Result-invisible by construction: postings are rewritten
    * range-partitioned + sorted on term (restoring the tight per-file
    * term ranges appends dilute), the (term, dft) and (n_docs, sum_dl)
    * partials are pre-merged (the probe re-aggregates partials anyway,
    * so fewer partials = same sums), and the id ledger is rewritten
    * distinct with a fresh bloom snapshot.
    *
    * Safety ([[IndexLifecycle.compactInto]]): the compacted tree is
    * built COMPLETELY under a fresh `<path>/gen-<n>` and committed by
    * one atomic pointer rename — the live path is never renamed or
    * absent, a concurrent probe reads either the old or the new
    * generation in full, and a crash anywhere leaves the old pointer
    * live. Run from the single index writer, between appends.
    */
  /** The BM25 merge for one fold group: postings rewritten
    * range-partitioned + sorted on term (restoring the tight per-file
    * term ranges appends dilute), df/stats partials pre-merged, the id
    * ledger distinct + dp-partitioned at a modulus derived from its
    * merged size.
    */
  private def mergeBm25Runs(spark: SparkSession, root: String)
      (runs: Seq[RunManifest.Run], newId: Long): Option[Int] = {
    RunManifest.readData(spark, root, "postings", runs,
        Seq("doc_id", "dl", "term", "tf"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite")
      .parquet(RunManifest.runPath(root, "postings", newId))
    RunManifest.readData(spark, root, "dfs", runs, Seq("term", "dft"))
      .groupBy("term").agg(sum("dft").as("dft"))
      .write.mode("overwrite")
      .parquet(RunManifest.runPath(root, "dfs", newId))
    RunManifest.readData(spark, root, "stats", runs,
        Seq("n_docs", "sum_dl"))
      .agg(coalesce(sum("n_docs"), lit(0.0)).as("n_docs"),
        coalesce(sum("sum_dl"), lit(0.0)).as("sum_dl"))
      .coalesce(1).write.mode("overwrite")
      .parquet(RunManifest.runPath(root, "stats", newId))
    val idBytes = runs.map(r => IndexLifecycle.dirBytes(spark,
      RunManifest.runPath(root, "docids", r.id))).sum
    val prefixes = spark.conf.getOption("spark.graft.lsh.indexPrefixes")
      .map(_.toInt).orElse(
        IndexLifecycle.derivePrefixesForRun(spark, BigInt(idBytes)))
    val ids = RunManifest.readData(spark, root, "docids", runs,
      Seq("doc_id")).distinct()
    val out = RunManifest.runPath(root, "docids", newId)
    prefixes match {
      case Some(p) =>
        ids.withColumn("dp", pmod(hash(col("doc_id")), lit(p)))
          .repartition(col("dp"))
          .write.mode("overwrite").partitionBy("dp").parquet(out)
      case None => RunManifest.sizedWrite(ids, out)
    }
    prefixes
  }

  /** One TIERED maintenance cycle over a streaming-layout BM25 index
    * ([[RunManifest.tierMaintain]]) — per-cycle work proportional to
    * data appended since the last cycle; the id bloom is untouched.
    * Returns the number of fold groups committed.
    */
  def maintainIndex(spark: SparkSession, path0: String,
      excludeFrom: Long = Long.MaxValue): Int = {
    val root = rootOf(spark, path0)
    if (!exists(spark, s"$root/postings")) return 0
    RunManifest.ensureStreaming(spark, root, bm25Tables,
        readDocPrefixes(spark, root)) match {
      case Some(_) => RunManifest.tierMaintain(spark, root, bm25Tables,
        excludeFrom)(mergeBm25Runs(spark, root))
      case None => 0 // flat (appendToIndex) layout: compactIndex only
    }
  }

  def compactIndex(spark: SparkSession, path: String,
      excludeBatch: Option[Long] = None): Unit = {
    val root = rootOf(spark, path)
    require(exists(spark, s"$root/postings"),
      s"$path has no postings table — nothing to compact")
    RunManifest.read(spark, root).foreach { _ =>
      // manifest index: deep fold in place by manifest swap, then
      // rebuild the id bloom from the folded ledger (fpp-drift reset
      // + auto-size upgrade — the step tiered maintenance skips)
      val excludeFrom = excludeBatch.getOrElse(Long.MaxValue)
      RunManifest.foldAll(spark, root, bm25Tables,
        excludeFrom)(mergeBm25Runs(spark, root))
      val man = RunManifest.read(spark, root).get
      val fold = man.live.filter(_.id < excludeFrom)
      fold.flatMap(_.prefixes).headOption.foreach(p =>
        writeDocPrefixes(spark, root, p))
      if (fold.nonEmpty) {
        RollingBloom.clear(spark, s"$root/docbloom")
        RollingBloom.roll(spark, s"$root/docbloom",
          RunManifest.readData(spark, root, "docids", man.live,
            Seq("doc_id")),
          "doc_id", Some(fold.map(_.id).min), docBloomCapacity(spark),
          0.03)
      }
      return
    }
    // re-derive the dp modulus from the ledger's real on-disk size
    // (conf still wins) — compaction rewrites every row anyway and
    // records the new modulus, so the index upgrades as it grows
    val prefixes = readDocPrefixes(spark, root).map { _ =>
      spark.conf.getOption("spark.graft.lsh.indexPrefixes").map(_.toInt)
        .getOrElse(IndexLifecycle.derivePrefixes(spark,
          BigInt(IndexLifecycle.dirBytes(spark, s"$root/docids"))))
    }
    val postP = new org.apache.hadoop.fs.Path(s"$root/postings")
    val pfs = postP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchIds = pfs.listStatus(postP).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") =>
        s.stripPrefix("batch=").toLong }
    val legacyEntries = Set("postings", "dfs", "stats", "docids",
      "docbloom", "_graft_bm25_meta")
    if (batchIds.isEmpty) {
      // flat ([[appendToIndex]]) layout — one file set per table
      IndexLifecycle.compactInto(spark, path)(legacyEntries) { tmp =>
        spark.read.parquet(s"$root/postings")
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$tmp/postings")
        spark.read.parquet(s"$root/dfs")
          .groupBy("term").agg(sum("dft").as("dft"))
          .write.mode("overwrite").parquet(s"$tmp/dfs")
        spark.read.parquet(s"$root/stats")
          .agg(coalesce(sum("n_docs"), lit(0.0)).as("n_docs"),
            coalesce(sum("sum_dl"), lit(0.0)).as("sum_dl"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
        if (prefixes.isDefined && exists(spark, s"$root/docids")) {
          val n = prefixes.get
          val ids = spark.read.parquet(s"$root/docids")
            .select("doc_id").distinct()
            .withColumn("dp", pmod(hash(col("doc_id")), lit(n)))
          ids.repartition(col("dp"))
            .write.mode("overwrite").partitionBy("dp")
            .parquet(s"$tmp/docids")
          writeDocPrefixes(spark, tmp, n)
          RollingBloom.roll(spark, s"$tmp/docbloom",
            spark.read.parquet(s"$tmp/docids").select("doc_id"), "doc_id",
            None, docBloomCapacity(spark), 0.03)
        }
      }
      return
    }
    // streaming ([[appendBatch]]) layout: fold every batch subtree
    // except the in-flight one (same replay rationale as
    // [[Dedup.compactLshIndex]]'s excludeBatch) into one
    // batch=<keep> subtree per table
    val fold = batchIds.filterNot(excludeBatch.contains)
    if (fold.isEmpty) return
    val keep = fold.max
    val cur = excludeBatch.filter(batchIds.contains)
    IndexLifecycle.compactInto(spark, path)(legacyEntries) { tmp =>
      def split(df: DataFrame): (DataFrame, Option[(Long, DataFrame)]) =
        excludeBatch match {
          case Some(id) => (df.where(col("batch") =!= lit(id)),
            cur.map(c => (c, df.where(col("batch") === lit(c)))))
          case None => (df, None)
        }
      val (pFold, pHeld) = split(spark.read.parquet(s"$root/postings"))
      def writePostings(df: DataFrame, sub: Long): Unit =
        df.select("doc_id", "dl", "term", "tf")
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term")
          .write.mode("overwrite").parquet(s"$tmp/postings/batch=$sub")
      writePostings(pFold, keep)
      pHeld.foreach { case (id, df) => writePostings(df, id) }
      val (dFold, dHeld) = split(spark.read.parquet(s"$root/dfs"))
      dFold.groupBy("term").agg(sum("dft").as("dft"))
        .write.mode("overwrite").parquet(s"$tmp/dfs/batch=$keep")
      dHeld.foreach { case (id, df) => df.select("term", "dft")
        .write.mode("overwrite").parquet(s"$tmp/dfs/batch=$id") }
      val (sFold, sHeld) = split(spark.read.parquet(s"$root/stats"))
      sFold.agg(coalesce(sum("n_docs"), lit(0.0)).as("n_docs"),
          coalesce(sum("sum_dl"), lit(0.0)).as("sum_dl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/stats/batch=$keep")
      sHeld.foreach { case (id, df) => df.select("n_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tmp/stats/batch=$id") }
      prefixes.foreach { n =>
        val (iFold, iHeld) = split(spark.read.parquet(s"$root/docids"))
        def writeIds(df: DataFrame, sub: Long): Unit =
          df.select("doc_id").distinct()
            .withColumn("dp", pmod(hash(col("doc_id")), lit(n)))
            .repartition(col("dp"))
            .write.mode("overwrite").partitionBy("dp")
            .parquet(s"$tmp/docids/batch=$sub")
        writeIds(iFold, keep)
        iHeld.foreach { case (id, df) => writeIds(df, id) }
        writeDocPrefixes(spark, tmp, n)
        // over ALL ids (held batch included) — a replay sees its own
        // ids as bloom positives, but their LEDGER rows are excluded
        // by the batch filter, so the guard still re-admits them
        RollingBloom.roll(spark, s"$tmp/docbloom",
          spark.read.parquet(s"$tmp/docids").select("doc_id"), "doc_id",
          Some(keep), docBloomCapacity(spark), 0.03)
      }
    }
  }

  /** Top-k BM25 over the persisted index; identical arithmetic to the
    * ad-hoc path (k1=1.2, b=0.75, rank cut on the rounded score).
    */
  /** Manifest-aware read of one of the index's uniform tables
    * (postings/dfs/stats): the LIVE runs when a manifest exists —
    * folded-away runs linger on disk for in-flight readers and must
    * not be re-read (double counting) — the directory glob otherwise.
    */
  def table(spark: SparkSession, path0: String, t: String): DataFrame = {
    val path = rootOf(spark, path0)
    RunManifest.read(spark, path) match {
      case Some(man) => RunManifest.readRuns(spark, path, t, man.live)
      case None =>
        RunManifest.requireNoFoldOrphans(spark, path, t)
        spark.read.parquet(s"$path/$t")
    }
  }

  def query(spark: SparkSession, path0: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    // resolve the generation + manifest ONCE so all three reads see
    // one consistent snapshot even if maintenance commits mid-query
    val path = rootOf(spark, path0)
    val man = RunManifest.read(spark, path)
    // glob fallback (no manifest) is only correct fold-free: BM25's
    // stats/dfs are SUMS over run partials, so reading a merged run
    // next to its folded-away sources silently doubles every score
    if (man.isEmpty)
      RunManifest.requireNoFoldOrphans(spark, path, "stats")
    def tbl(t: String): DataFrame = man match {
      case Some(m) => RunManifest.readRuns(spark, path, t, m.live)
      case None => spark.read.parquet(s"$path/$t")
    }
    val postings = tbl("postings")
      .where(col("term").isInCollection(terms))
    // merge the per-append partials (a handful of rows) at probe time
    val dfs = tbl("dfs")
      .where(col("term").isInCollection(terms))
      .groupBy("term").agg(sum("dft").as("dft"))
    val stats = tbl("stats")
      .agg(sum("n_docs").as("n_docs"),
        (sum("sum_dl") / sum("n_docs")).as("avgdl"))
    postings.join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("dft") + lit(0.5)) /
          (col("dft") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
