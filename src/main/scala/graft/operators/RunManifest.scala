package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Tiered-run lifecycle for the persisted streaming indexes — the
  * maintenance model that stays affordable at 100 TB.
  *
  * r12's auto-compaction rewrote the ENTIRE accumulated index every
  * `compactEvery` micro-batches (generation build + pointer flip):
  * per-cycle maintenance cost O(index), quadratic over the ingest
  * lifetime, serialized inside the foreachBatch. This module replaces
  * that with an LSM-style run set:
  *
  *  - every micro-batch append is a RUN — its own `batch=<id>`
  *    subtree, exactly the overwrite-on-replay unit r12 already used;
  *  - a tiny manifest file (`_graft_runs`) next to the data lists the
  *    LIVE runs (id, on-disk bytes, optional hash-prefix modulus) and
  *    is committed by atomic rename — the Iceberg-style metadata
  *    commit. Readers resolve the manifest and read EXACTLY the listed
  *    run directories (one multi-path scan per modulus group), so a
  *    fold is invisible until its single commit and double-counting /
  *    torn states are impossible;
  *  - maintenance folds only the runs whose SIZE TIER has accumulated
  *    `tierMinRuns` members: many small runs merge into one medium
  *    run, mediums into a large one only when their count trips the
  *    threshold. Per-cycle work is proportional to data appended since
  *    the last cycle (amortized — each byte is rewritten O(log_F N)
  *    times over the index's whole life), and large runs are never
  *    touched just because a cadence fired;
  *  - folded runs move to the DEAD list and their directories linger
  *    for `spark.graft.index.keepGenerations` further maintenance
  *    cycles (the same retention bargain as generation snapshots), so
  *    a reader that resolved the previous manifest keeps reading
  *    intact files.
  *
  * Append runs are written UNPARTITIONED (micro-batches are far below
  * the 128 MB prefix-partition target, and skipping the per-batch
  * `repartition(prefix)` shuffle removes a whole stage from the hot
  * ingest path); folds rewrite the merged run hash-prefix-partitioned
  * with a modulus derived from the MERGED size and recorded per run in
  * the manifest — so probes prune big runs by partition and read small
  * runs whole, and the modulus upgrades as the index grows without a
  * global rewrite (different runs may carry different moduli; probes
  * compute one touched-prefix set per modulus in a single job).
  *
  * Concurrency: single index WRITER by contract, but the writer may
  * run maintenance on a separate thread from the append path
  * ([[graft.streaming.StreamingFunnel.attach]]'s async mode) — all
  * manifest read-modify-writes take a per-directory JVM lock, appends
  * only ADD runs with ids at or above the maintenance exclusion floor,
  * and folds only touch runs strictly below it, so the two threads
  * never write the same files.
  *
  * Layout note: `table = ""` means the runs live directly under the
  * index root (the md5 hash index); otherwise under `<root>/<table>`
  * (e.g. the LSH index's `bands` and `shingles` move in lockstep as
  * one run id).
  */
object RunManifest {

  /** One live run: its id (append batch ids are >= 0, folded runs get
    * fresh negative ids so they can never collide with a replayed
    * append), total on-disk bytes across the index's tables, and the
    * hash-prefix modulus its partition columns were written with
    * (None = unpartitioned append run).
    */
  final case class Run(id: Long, bytes: Long, prefixes: Option[Int])

  /** `dead`: folded runs still on disk for in-flight readers —
    * (id, remaining grace cycles). `seq`: monotonic fold counter (the
    * next folded run gets id `-(seq+1)`).
    */
  final case class Manifest(seq: Long, live: Seq[Run],
      dead: Seq[(Long, Int)]) {
    def liveIds: Set[Long] = live.map(_.id).toSet
  }

  private val manifestName = "_graft_runs"

  private val locks = new ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def runPath(root: String, table: String, id: Long): String =
    if (table.isEmpty) s"$root/batch=$id" else s"$root/$table/batch=$id"

  def exists(spark: SparkSession, root: String): Boolean = {
    val p = new Path(s"$root/$manifestName")
    fsOf(spark, p).exists(p)
  }

  private def parse(txt: String): Manifest = {
    var seq = 0L
    val live = Seq.newBuilder[Run]
    val dead = Seq.newBuilder[(Long, Int)]
    txt.linesIterator.foreach { l =>
      l.split("=", 2) match {
        case Array("seq", v) => seq = v.trim.toLong
        case Array("live", v) =>
          val f = v.trim.split(":")
          live += Run(f(0).toLong, f(1).toLong,
            if (f.length > 2 && f(2).nonEmpty) Some(f(2).toInt) else None)
        case Array("dead", v) =>
          val f = v.trim.split(":")
          dead += ((f(0).toLong, f(1).toInt))
        case _ => ()
      }
    }
    Manifest(seq, live.result(), dead.result())
  }

  /** The manifest, or None when the index has none (flat layout, or a
    * pre-manifest index). An ABSENT file next to an in-flight commit
    * marker (`.tmp`) is the delete+rename fallback's crash window, not
    * "no manifest" — retry briefly before concluding, because a reader
    * that falls through to the legacy directory glob here could read
    * folded-away dead runs (for BM25 that silently double-counts the
    * summed stats/df partials). The primary commit path
    * (FileContext overwrite rename, [[write]]) never opens this window
    * on HDFS or local; the retry only ever spins on filesystems
    * without an AbstractFileSystem binding, and only while a commit is
    * actually in flight.
    */
  def read(spark: SparkSession, root: String): Option[Manifest] = {
    val ptr = new Path(s"$root/$manifestName")
    val tmp = new Path(s"$root/$manifestName.tmp")
    val fs = fsOf(spark, ptr)
    var result: Option[Option[Manifest]] = None
    var tries = 0
    var csTries = 0
    while (result.isEmpty) {
      try {
        val in = fs.open(ptr)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        result = Some(Some(parse(txt)))
      } catch {
        case _: java.io.FileNotFoundException =>
          if (tries >= 6 || !fs.exists(tmp)) result = Some(None)
          else { tries += 1; Thread.sleep(50) }
        case e: org.apache.hadoop.fs.ChecksumException =>
          // local-FS commit race: ChecksumFs renames the manifest data
          // file and its .crc sidecar in TWO steps, so a read between
          // them sees new bytes under the old checksum. The window is
          // microseconds — retry; persistent mismatch (real corruption)
          // still fails loudly after the bounded retries. Own counter
          // (r15, advisor): sharing `tries` with the absent-file branch
          // shrank whichever budget fired second when both races hit
          // one read.
          if (csTries >= 6) throw e
          csTries += 1; Thread.sleep(50)
      }
    }
    result.get
  }

  /** Commit `m` by writing aside and atomically renaming over the
    * manifest. The rename uses FileContext's OVERWRITE mode — atomic
    * replace-on-rename on HDFS and local — because plain
    * `FileSystem.rename` REFUSES an existing destination on HDFS, and
    * the delete+rename workaround would open a manifest-absent window
    * on every single commit. Filesystems without an AbstractFileSystem
    * binding fall back to delete+rename; [[read]]'s tmp-present retry
    * covers that window. Callers hold [[lockFor]].
    */
  private def write(spark: SparkSession, root: String, m: Manifest): Unit = {
    val lines =
      s"seq=${m.seq}\n" +
        m.live.map(r =>
          s"live=${r.id}:${r.bytes}:${r.prefixes.map(_.toString).getOrElse("")}\n")
          .mkString +
        m.dead.map { case (id, g) => s"dead=$id:$g\n" }.mkString
    val tmp = new Path(s"$root/$manifestName.tmp")
    val ptr = new Path(s"$root/$manifestName")
    val fs = fsOf(spark, tmp)
    val out = fs.create(tmp, true)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (!fs.rename(tmp, ptr)) {
          fs.delete(ptr, false)
          require(fs.rename(tmp, ptr), s"manifest commit failed for $root")
        }
    }
  }

  /** Total on-disk bytes of run `id` across `tables`. */
  private def runBytes(spark: SparkSession, root: String,
      tables: Seq[String], id: Long): Long =
    tables.map(t => IndexLifecycle.dirBytes(spark, runPath(root, t, id))).sum

  /** The message both [[ensure]] and [[requireNoFoldOrphans]] fail
    * with when fold evidence (a negative-id run — appends are always
    * >= 0) exists without a manifest: that state means the manifest
    * was LOST, and the directory may still hold folded-away DEAD runs
    * inside their retention grace. Treating the listing as live would
    * silently resurrect them next to the merged run — harmless for the
    * hash/LSH indexes' superset-tolerant anti-join/edge semantics, but
    * BM25's summed stats/df partials would double-count every score.
    * Same loud posture as a lost generation pointer
    * ([[IndexLifecycle.resolveRoot]]).
    */
  private def foldOrphanMsg(root: String): String =
    s"index at $root holds folded runs (batch=<negative id>) but no " +
      s"$manifestName manifest — the manifest was lost after a fold. " +
      "Refusing to rebuild it from the directory listing, which would " +
      "resurrect folded-away dead runs as live and double-count. " +
      s"Restore $root/$manifestName from a backup or filesystem " +
      "snapshot (a small text file, committed on every append and " +
      "fold); if none exists, delete the batch=<negative id> " +
      "directories ONLY after verifying every original batch=<id >= 0> " +
      "run is still present, then retry to migrate the survivors."

  /** The manifest, creating it from the directory layout when absent —
    * the r12→r13 migration: every existing `batch=<id>` subtree
    * becomes a live run. A run whose directory actually contains
    * hash-prefix partition subdirectories (r12 appends and folded
    * runs) carries the index meta's recorded modulus; a run holding
    * plain files (an r13 append whose manifest was lost) is recorded
    * unpartitioned — labeling it with a modulus would make probes
    * filter on a partition column the scan does not have. The check is
    * PER RUN and PER TABLE SET: one run's tables can mix layouts (a
    * migrated BM25 run dp-partitions `docids` while `postings` holds
    * plain files), so the head table alone would mislabel the run and
    * the next multi-path read would crash on conflicting partition
    * depths. Idempotent; callers that only READ must not use this
    * (probes fall back to the directory glob while no manifest exists,
    * which is correct exactly because no fold can have happened yet —
    * and REFUSED when fold evidence says one has, see
    * [[foldOrphanMsg]]).
    */
  def ensure(spark: SparkSession, root: String, tables: Seq[String],
      legacyPrefixes: Option[Int]): Manifest =
    lockFor(root).synchronized {
      read(spark, root).getOrElse {
        val t0 = tables.head
        val d = new Path(if (t0.isEmpty) root else s"$root/$t0")
        val fs = fsOf(spark, d)
        val ids =
          if (!fs.exists(d)) Nil
          else fs.listStatus(d).toSeq.map(_.getPath.getName)
            .collect { case s if s.startsWith("batch=") =>
              s.stripPrefix("batch=").toLong }
        if (ids.exists(_ < 0))
          throw new IllegalStateException(foldOrphanMsg(root))
        def partitioned(id: Long): Boolean = tables.exists { t =>
          val rp = new Path(runPath(root, t, id))
          fs.exists(rp) && fs.listStatus(rp).exists(s =>
            s.isDirectory && s.getPath.getName.contains("="))
        }
        val m = Manifest(0L, ids.sorted.map(id =>
          Run(id, runBytes(spark, root, tables, id),
            if (partitioned(id)) legacyPrefixes else None)), Nil)
        write(spark, root, m)
        m
      }
    }

  /** Loud-failure guard for the legacy directory-glob fallbacks every
    * probe takes when [[read]] returns None: a `table` directory that
    * holds folded (negative-id) runs WITHOUT a manifest means the
    * manifest was lost after a fold — globbing would read the merged
    * run AND its folded-away sources together (see [[foldOrphanMsg]]).
    * One listStatus; call it only on the already-cold fallback path,
    * never on the manifest path.
    */
  def requireNoFoldOrphans(spark: SparkSession, root: String,
      table: String): Unit = {
    val d = new Path(if (table.isEmpty) root else s"$root/$table")
    val fs = fsOf(spark, d)
    if (fs.exists(d) && fs.listStatus(d).exists(s =>
        s.getPath.getName.startsWith("batch=-")))
      throw new IllegalStateException(foldOrphanMsg(root))
  }

  /** Record (or, on replay, re-record) an append run after its data
    * landed. `prefixes = None`: append runs are unpartitioned.
    */
  def addRun(spark: SparkSession, root: String, tables: Seq[String],
      id: Long, legacyPrefixes: Option[Int]): Unit = {
    val bytes = runBytes(spark, root, tables, id)
    lockFor(root).synchronized {
      val m = read(spark, root).getOrElse(
        // first append of a fresh index — or of a pre-manifest one,
        // where the OTHER runs inherit the meta's recorded modulus
        ensure(spark, root, tables, legacyPrefixes))
      val updated = m.live.filterNot(_.id == id) :+ Run(id, bytes, None)
      write(spark, root, m.copy(live = updated.sortBy(_.id)))
    }
  }

  /** One relation over the given runs of `table` — multi-path read
    * with `basePath` so the `batch` (and any prefix) partition columns
    * survive. All runs passed in one call must share a partition
    * layout (same `prefixes`); group with [[modulusGroups]] first.
    */
  def readRuns(spark: SparkSession, root: String, table: String,
      runs: Seq[Run]): DataFrame =
    readParquet(spark, if (table.isEmpty) root else s"$root/$table",
      runs.map(r => runPath(root, table, r.id)))

  /** `spark.read.parquet(paths)` under `basePath` WITHOUT the schema
    * inference job: every parquet file Spark writes carries its row
    * schema in the footer (`org.apache.spark.sql.parquet.row.metadata`,
    * the schema inference itself prefers), so the driver reads it from
    * the first data file and passes it as the data schema. Partition
    * columns stay out of it and are discovered from the directories
    * as before, so the frame's columns, their order, types and
    * nullability are what inference gives. A footer without that
    * schema, or no data file at all, falls back to inference.
    */
  def readParquet(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame = {
    val r = spark.read.option("basePath", basePath)
    footerSchema(spark, basePath, paths).fold(r)(r.schema)
      .parquet(paths: _*)
  }

  private val sparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The last footer schema read per base path, tagged with its file's
    * identity (path, length, mtime): a rewritten file is read afresh,
    * and the memo holds one entry per index table.
    */
  private val footerSchemas = new ConcurrentHashMap[String,
    ((String, Long, Long), Option[StructType])]()

  private def footerSchema(spark: SparkSession, basePath: String,
      paths: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // the first data file, depth first through partition directories
    def firstFile(fs: FileSystem, d: Path): Option[FileStatus] = {
      val (files, dirs) = fs.listStatus(d).filter(visible)
        .sortBy(_.getPath.getName).partition(_.isFile)
      files.find(_.getPath.getName.endsWith(".parquet"))
        .orElse(dirs.iterator.flatMap(s => firstFile(fs, s.getPath))
          .nextOption())
    }
    val file = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = fsOf(spark, p)
      try firstFile(fs, p).iterator
      catch { case _: java.io.FileNotFoundException => Iterator.empty }
    }.nextOption()
    file.flatMap { st =>
      val key = (st.getPath.toString, st.getLen, st.getModificationTime)
      footerSchemas.compute(basePath, (_, cur) =>
        if (cur != null && cur._1 == key) cur
        else key -> readFooterSchema(conf, st))._2
    }
  }

  private def readFooterSchema(conf: Configuration,
      st: FileStatus): Option[StructType] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(sparkSchemaKey)
        finally reader.close()
      Option(json).map(DataType.fromJson).collect { case t: StructType => t }
    } catch { case NonFatal(_) => None }

  def modulusGroups(runs: Seq[Run]): Seq[(Option[Int], Seq[Run])] =
    runs.groupBy(_.prefixes).toSeq.sortBy(_._1.getOrElse(0))

  /** The union of `cols` over `runs`, reading each modulus group
    * separately (mixed partition depths cannot share one scan) and,
    * when `touched` is given, partition-pruning each PARTITIONED group
    * to its own touched-prefix set — unpartitioned append runs are
    * read whole (they are micro-batch-sized by construction).
    */
  def readData(spark: SparkSession, root: String, table: String,
      runs: Seq[Run], cols: Seq[String], partCol: String = "",
      touched: Int => Seq[Int] = _ => Nil): DataFrame = {
    require(runs.nonEmpty, s"readData over zero runs of $root/$table")
    modulusGroups(runs).map {
      case (None, rs) =>
        readRuns(spark, root, table, rs).select(cols.map(col): _*)
      case (Some(m), rs) =>
        val df = readRuns(spark, root, table, rs)
        val pruned = if (partCol.isEmpty) df
          else df.where(col(partCol).isin(touched(m): _*))
        pruned.select(cols.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** Overwrite `df` to `path` in a file count sized to its Catalyst
    * estimate (~64 MB targets, capped) — a micro-batch run lands as
    * one or two files instead of one per upstream task, without a
    * shuffle; a backfill-sized batch still writes in parallel.
    */
  def sizedWrite(df: DataFrame, path: String): Unit = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = (est / (64L << 20) + 1).min(BigInt(200)).toInt
    df.coalesce(files).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** The manifest when present; otherwise CREATE one from the
    * directory layout only if `batch=` runs actually exist (the
    * streaming layout) — a flat index must never grow an empty
    * manifest, which readers would interpret as "no live data".
    */
  def ensureStreaming(spark: SparkSession, root: String,
      tables: Seq[String], legacyPrefixes: Option[Int]): Option[Manifest] =
    lockFor(root).synchronized {
      read(spark, root).orElse {
        val t0 = tables.head
        val d = new Path(if (t0.isEmpty) root else s"$root/$t0")
        val fs = fsOf(spark, d)
        val hasRuns = fs.exists(d) &&
          fs.listStatus(d).exists(_.getPath.getName.startsWith("batch="))
        if (hasRuns) Some(ensure(spark, root, tables, legacyPrefixes))
        else None
      }
    }

  /** (probe-row count, touched-prefix set per modulus) in ONE
    * partial+final aggregation job — the bounded-collect discipline
    * every index probe shares (each set holds at most `modulus`
    * distinct ints). The count lets callers skip the index read
    * entirely when a bloom screen left zero suspects.
    */
  def touchedSets(probe: DataFrame, key: Column, moduli: Seq[Int])
      : (Long, Map[Int, Seq[Int]]) = {
    val mods = moduli.distinct.sorted
    val aggs = count(lit(1)).as("_n") +: mods.map(m =>
      collect_set(pmod(hash(key), lit(m))).as(s"_t$m"))
    val row = probe.agg(aggs.head, aggs.tail: _*).collect()(0)
    (row.getLong(0),
      mods.zipWithIndex.map { case (m, i) =>
        m -> row.getSeq[Int](i + 1) }.toMap)
  }

  // ---- tier planning ------------------------------------------------

  /** Runs-per-tier threshold that triggers a fold —
    * `spark.graft.index.tierMinRuns`, default 4.
    */
  def tierMinRuns(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.index.tierMinRuns")
      .map(_.toInt).getOrElse(4)

  /** Size ratio between adjacent tiers —
    * `spark.graft.index.tierFactor`, default 8.
    */
  def tierFactor(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.index.tierFactor")
      .map(_.toInt).getOrElse(8)

  /** Upper bound of tier 0 — `spark.graft.index.tierBaseBytes`,
    * default 8 MB (a healthy micro-batch run; anything smaller is
    * pure file-count overhead and always worth folding).
    */
  def tierBaseBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.index.tierBaseBytes")
      .map(_.toLong).getOrElse(8L << 20)

  def tierOf(bytes: Long, base: Long, factor: Int): Int =
    if (bytes <= base) 0
    else (math.log(bytes.toDouble / base) / math.log(factor.toDouble))
      .toInt + 1

  /** Fold groups committed per maintenance cycle —
    * `spark.graft.index.maxTiersPerCycle`, default 1: when several
    * tiers trip in the same cycle (a tier-0 fold tipping tier 1 over
    * its threshold — the cascade), only the LOWEST tier folds now and
    * the rest defer to the next cadence. This flattens the periodic
    * ~2x cycle-wall spikes the uncapped plan showed (every tripped
    * tier folded in one cycle) at the price of carrying a tripped
    * higher tier one extra cadence — run counts stay bounded because
    * each cycle still retires the tier that holds the most runs.
    * `<= 0` = unbounded (fold every tripped tier per cycle).
    */
  def maxTiersPerCycle(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.index.maxTiersPerCycle")
      .map(_.toInt).getOrElse(1)

  /** The fold groups this cycle: live runs with id < `excludeFrom`
    * (folded runs are negative, so always eligible; append runs at or
    * above the floor may belong to an uncommitted trigger and are
    * never touched), bucketed by size tier; every tier holding at
    * least [[tierMinRuns]] members is eligible, and the lowest
    * [[maxTiersPerCycle]] of them fold entirely. Cascades (the merged
    * run tipping the NEXT tier over its threshold) resolve on
    * subsequent cycles — bounded laziness that keeps one cycle's work
    * proportional to one cycle's data.
    */
  def planFolds(spark: SparkSession, m: Manifest,
      excludeFrom: Long): Seq[Seq[Run]] = {
    val base = tierBaseBytes(spark)
    val factor = tierFactor(spark)
    val minRuns = tierMinRuns(spark)
    val cap = maxTiersPerCycle(spark)
    val tripped = m.live.filter(_.id < excludeFrom)
      .groupBy(r => tierOf(r.bytes, base, factor))
      .toSeq.sortBy(_._1)
      .collect { case (_, rs) if rs.size >= minRuns => rs }
    if (cap > 0) tripped.take(cap) else tripped
  }

  /** Run one maintenance cycle over the index at `root`:
    *
    *   1. plan the folds from the current manifest (under lock);
    *   2. for each fold group, `merge(group, newId)` writes the merged
    *      run's COMPLETE data (all tables) under the fresh negative id
    *      and returns the prefix modulus it partitioned with — long
    *      Spark jobs, deliberately OUTSIDE the lock (appends only add
    *      ids >= `excludeFrom`, folds only read ids below it);
    *   3. commit ONE manifest swap: folded runs move to dead with
    *      [[IndexLifecycle.keepGenerations]] grace cycles, merged runs
    *      go live, prior dead runs age one cycle;
    *   4. delete expired dead runs and any unreferenced run directory
    *      below the exclusion floor (crashed-fold leftovers — a crash
    *      between data write and commit leaves garbage, never a torn
    *      index, because readers only follow the manifest).
    *
    * Returns the number of folds committed. A crash at ANY point
    * leaves either the old manifest (merged data unreferenced,
    * re-folded next cycle) or the new one (fully-written merged runs)
    * — same commit story as the generation pointer, at run
    * granularity.
    */
  def tierMaintain(spark: SparkSession, root: String, tables: Seq[String],
      excludeFrom: Long)
      (merge: (Seq[Run], Long) => Option[Int]): Int =
    maintainWith(spark, root, tables, excludeFrom,
      planFolds(spark, _, excludeFrom))(merge)

  /** Fold ALL eligible runs into one — the deep-OPTIMIZE
    * ([[graft.streaming.StreamingFunnel.compact]]'s manifest-index
    * path): one merged, freshly-partitioned run per index regardless
    * of tier, committed by the same single manifest swap. A no-op when
    * the eligible set is already one partitioned run.
    */
  def foldAll(spark: SparkSession, root: String, tables: Seq[String],
      excludeFrom: Long)(merge: (Seq[Run], Long) => Option[Int]): Int =
    maintainWith(spark, root, tables, excludeFrom, m => {
      val eligible = m.live.filter(_.id < excludeFrom)
      if (eligible.size >= 2 || eligible.exists(_.prefixes.isEmpty))
        Seq(eligible)
      else Nil
    })(merge)

  // one maintenance cycle per root at a time: two concurrent cycles
  // would plan from the same seq and write the same merged-run id.
  // tryAcquire (not blocking) — a caller whose cycle is already
  // running skips; the next cadence catches up. Appends are NOT
  // blocked by this (they only take the brief manifest lock).
  private val cycleBusy = new ConcurrentHashMap[String, java.lang.Boolean]()

  private def maintainWith(spark: SparkSession, root: String,
      tables: Seq[String], excludeFrom: Long,
      plan: Manifest => Seq[Seq[Run]])
      (merge: (Seq[Run], Long) => Option[Int]): Int = {
    if (cycleBusy.putIfAbsent(root, java.lang.Boolean.TRUE) != null)
      return 0
    try maintainLocked(spark, root, tables, excludeFrom, plan)(merge)
    finally cycleBusy.remove(root)
  }

  private def maintainLocked(spark: SparkSession, root: String,
      tables: Seq[String], excludeFrom: Long,
      plan: Manifest => Seq[Seq[Run]])
      (merge: (Seq[Run], Long) => Option[Int]): Int = {
    val m0 = lockFor(root).synchronized {
      read(spark, root)
    }.getOrElse(return 0)
    val folds = plan(m0).filter(_.nonEmpty)
    if (folds.isEmpty && m0.dead.isEmpty) return 0
    val merged = folds.zipWithIndex.map { case (group, k) =>
      val newId = -(m0.seq + k + 1)
      val prefixes = merge(group, newId)
      Run(newId, runBytes(spark, root, tables, newId), prefixes)
    }
    val foldedIds = folds.flatten.map(_.id).toSet
    val grace = IndexLifecycle.keepGenerations(spark)
    val (committed, expired) = lockFor(root).synchronized {
      val m = read(spark, root).get // manifest exists (read above)
      val aged = m.dead.map { case (id, g) => (id, g - 1) }
      val (dead, exp) = (aged ++ foldedIds.toSeq.map((_, grace)))
        .partition(_._2 > 0)
      val next = Manifest(
        m0.seq + folds.size,
        m.live.filterNot(r => foldedIds.contains(r.id)) ++ merged,
        dead)
      write(spark, root, next)
      (next, exp.map(_._1))
    }
    // reclaim: expired dead runs, plus unreferenced directories below
    // the floor (folds that crashed before their commit)
    val referenced = committed.liveIds ++ committed.dead.map(_._1)
    tables.foreach { t =>
      val d = new Path(if (t.isEmpty) root else s"$root/$t")
      val fs = fsOf(spark, d)
      if (fs.exists(d)) fs.listStatus(d).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("batch=")) {
          val id = n.stripPrefix("batch=").toLong
          if (expired.contains(id) ||
              (id < excludeFrom && !referenced.contains(id)))
            fs.delete(s.getPath, true)
        }
      }
    }
    folds.size
  }
}
