package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftx.BloomAgg
import org.apache.spark.util.sketch.BloomFilter

/** Rolling, mergeable bloom snapshots over a persisted index's key
  * column — the screen that makes incremental probes sub-linear in
  * history (see the LSH `keybloom/` rationale in [[Dedup]]): index
  * keys are uniform hashes, so partition pruning alone is vacuous for
  * any realistic batch; the bloom first drops every batch key provably
  * absent (no false negatives), and only the survivors' prefixes touch
  * the index.
  *
  * Lifecycle mirrors the batch=<id> index subtrees: each append writes
  * a MERGED snapshot to its own file — `bloom-<id>.bin` for batch
  * rolls (overwrite-on-replay idempotent; content is a pure function
  * of the keys since insertion is bit-OR), `bloom-base-<gen>.bin` with
  * a monotonic generation for batchless rolls — and probes read the
  * newest snapshot excluding their own batch. EVERY write lands in a
  * fresh filename (base rolls included): loaded blooms cache per
  * (path, mtime, length), and an in-place overwrite under coarse
  * mtime granularity (e.g. object stores with 1 s resolution) could
  * otherwise hand a reader the stale cached instance — whose missing
  * keys would bloom-negative out of probes and silently break the
  * no-false-negatives contract.
  *
  * The bit geometry (capacity, fpp) is recorded in `_graft_bloom_meta`
  * at the first roll and every later roll uses the RECORDED values —
  * the same probes-never-read-the-live-conf discipline as the index
  * prefix metas, so a conf change mid-lifecycle can never produce a
  * merge-incompatible snapshot. [[clear]] removes the meta with the
  * snapshots; the next roll re-records from its arguments.
  */
object RollingBloom {

  /** Loaded snapshots: ONE per bloom directory, keyed by the
    * directory and tagged with the snapshot identity (path, mtime,
    * length) — a read of any other snapshot of that directory (in
    * practice the next, newer one) replaces the entry. Keyed by
    * snapshot alone, the cache kept every batch's bitmap of every
    * index for the life of the JVM; after a compaction re-sizes a
    * bloom to the corpus, each of those can be hundreds of MB.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, ((String, Long, Long), BloomFilter)]()

  /** Snapshot paths currently held by the read cache. */
  private[graft] def cachedSnapshots: Seq[String] = {
    import scala.jdk.CollectionConverters._
    cache.values().asScala.map(_._1._1).toSeq
  }

  /** Base generations older than the newest this many are pruned
    * best-effort after a successful base roll (each roll merges all
    * history, so only the newest is ever read; the grace copy keeps a
    * reader that listed just before the roll safe).
    */
  private val baseGensKept = 2

  // batch ids may be NEGATIVE (folded-run labels from the tiered
  // lifecycle — chosen so no stream batch's excludeBatch can ever
  // drop them); "bloom-base*" names stay disjoint from "bloom--3.bin"
  private val snapRe = "bloom-(-?\\d+)\\.bin".r
  private val baseRe = "bloom-base(?:-(\\d+))?\\.bin".r

  /** (isBatch, id/gen) of every snapshot in `dir`; legacy suffix-less
    * `bloom-base.bin` reads as generation 0.
    */
  private def listSnaps(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Seq[(Boolean, Long)] =
    fs.listStatus(d).toSeq.map(_.getPath.getName).collect {
      case snapRe(id) => (true, id.toLong)
      case baseRe(gen) => (false, if (gen == null) 0L else gen.toLong)
    }

  private def snapPath(dir: String, snap: (Boolean, Long)) =
    new org.apache.hadoop.fs.Path(snap match {
      case (true, id) => s"$dir/bloom-$id.bin"
      case (false, 0L) => s"$dir/bloom-base.bin"
      case (false, gen) => s"$dir/bloom-base-$gen.bin"
    })

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_bloom_meta")

  /** The recorded (capacity, fpp) geometry, None before the first
    * roll.
    */
  def readMeta(spark: SparkSession, dir: String): Option[(Long, Double)] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = txt.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }
        .toMap
      for (c <- kv.get("capacity"); f <- kv.get("fpp"))
        yield (c.toLong, f.toDouble)
    }
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      capacity: Long, fpp: Double): Unit = {
    val out = fs.create(metaPath(dir), true)
    try out.write(s"capacity=$capacity\nfpp=$fpp\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The legacy fixed default every pre-meta bloom directory was built
    * with — the geometry fallback when a directory has snapshots but
    * no meta (built by an older version), so new rolls stay
    * merge-compatible with its history.
    */
  private val legacyCapacity = 16000000L

  /** Merge `keys`' column `keyCol` into the rolling bloom and write
    * this batch's snapshot. The FIRST roll of a directory records
    * (capacity, fpp) in `_graft_bloom_meta`; every later roll uses the
    * recorded geometry (mergeInPlace requires identical bit layout),
    * so the arguments only size NEW bloom directories. An over-full
    * bloom degrades fpp — weaker pruning, never wrong results.
    *
    * `capacity <= 0` = AUTO: size the new directory to 16x the first
    * roll's key count (floor 65536) — a corpus-growth headroom that
    * keeps the snapshot proportional to the index instead of a fixed
    * 16M-key/multi-MB artifact per tiny index (the fixed default made
    * every probe broadcast ~8 MB of mostly-empty bitmap). Compaction
    * [[clear]]s the directory, so its rebuild re-sizes to 16x the
    * full compacted corpus: a deployment that outgrows the headroom
    * degrades fpp only until its next compaction. Deployments that
    * know their total key count up front should still set the
    * capacity conf explicitly.
    */
  def roll(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, batch: Option[Long], capacity: Long,
      fpp: Double): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the bloom aggregate yields null over zero rows, and
    // sketch.BloomFilter.create builds a geometry incompatible with
    // the aggregate's V2 impl — so an EMPTY batch (e.g. a
    // micro-batch fully dropped by upstream filters) re-writes the
    // previous snapshot unchanged (keeps the snapshot-per-batch
    // lifecycle monotone) or, with no history either, rolls nothing
    val prev = read(spark, dir, excludeBatch = batch)
    val (cap, f) = readMeta(spark, dir).getOrElse {
      if (capacity > 0) (capacity, fpp)
      // meta-less with history = a pre-meta directory: its snapshots
      // were built at the legacy fixed default, and auto-sizing here
      // would make the merge geometry-incompatible
      else if (prev.isDefined) (legacyCapacity, fpp)
      else {
        val n = keys.count()
        // empty first roll: nothing to merge and no history either
        if (n == 0L) return
        (math.max(65536L, 16L * n), fpp)
      }
    }
    // ONE aggregation gives the key count and the batch bloom — the
    // same `bloom_filter_agg` that `keys.stat.bloomFilter(keyCol, cap,
    // f)` runs, so the bits are identical, without the separate
    // emptiness job per roll
    val agg = keys.agg(count(lit(1)),
      BloomAgg.column(col(keyCol), cap,
        BloomFilter.optimalNumOfBits(cap, f))).collect()(0)
    val merged =
      if (agg.getLong(0) == 0L) prev match {
        case Some(b) => b
        case None => return
      } else {
        // merge INTO the fresh batch bloom, never into `prev`: read()
        // hands out the cached instance, and mutating it would pollute
        // every later reader of the older snapshot (weaker pruning — a
        // bloom can only over-approximate — but a shared-cache
        // mutation trap all the same)
        val batchBloom = BloomFilter.readFrom(agg.getAs[Array[Byte]](1))
        prev.foreach(batchBloom.mergeInPlace)
        batchBloom
      }
    val snap = batch match {
      case Some(id) => (true, id)
      case None =>
        // fresh filename per base roll: monotonic generation, so the
        // (path, mtime, length) read cache can never serve a stale
        // pre-overwrite instance
        val gens = (if (fs.exists(d)) listSnaps(fs, d) else Nil)
          .collect { case (false, g) => g }
        (false, if (gens.isEmpty) 0L else gens.max + 1L)
    }
    // record the geometry BEFORE the snapshot lands: a crash between
    // the two writes must never leave an auto-sized snapshot with no
    // meta — the next roll's fallback would pick the legacy capacity
    // and every subsequent mergeInPlace would throw until the
    // directory was cleared by hand (meta-with-no-snapshot, the other
    // crash order, is harmless: the next roll just uses the recorded
    // geometry for its first snapshot)
    if (readMeta(spark, dir).isEmpty) writeMeta(fs, dir, cap, f)
    val p = snapPath(dir, snap)
    val out = fs.create(p, true)
    try merged.writeTo(out) finally out.close()
    if (!snap._1) pruneBaseGens(fs, dir, snap._2)
  }

  /** Best-effort removal of base generations older than the newest
    * [[baseGensKept]] — every roll merges all history, so only the
    * newest is read; the kept grace copies cover a reader that listed
    * just before this roll.
    */
  private def pruneBaseGens(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, newest: Long): Unit =
    try {
      listSnaps(fs, new org.apache.hadoop.fs.Path(dir))
        .collect { case (false, g) if g <= newest - baseGensKept => g }
        .foreach(g => fs.delete(snapPath(dir, (false, g)), false))
    } catch { case _: java.io.IOException => () }

  /** Newest snapshot, excluding the given batch's own (replay safety):
    * the highest batch id if any batch snapshots exist, else the
    * highest base generation. None = no bloom yet — callers skip the
    * pre-filter, which is correct, just unpruned.
    */
  def read(spark: SparkSession, dir: String,
      excludeBatch: Option[Long] = None): Option[BloomFilter] =
    readKeyed(spark, dir, excludeBatch).map(_._2)

  /** [[read]] with the snapshot's cache identity (path, mtime, length).
    * A directory or snapshot that vanishes mid-read — a concurrent
    * [[clear]] by a deep compaction, which rolls a fresh snapshot right
    * after — reads as no bloom, the same unpruned-but-correct probe.
    */
  private def readKeyed(spark: SparkSession, dir: String,
      excludeBatch: Option[Long])
      : Option[((String, Long, Long), BloomFilter)] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val usable = listSnaps(fs, d).filterNot {
        case (true, id) => excludeBatch.contains(id)
        case _ => false
      }
      if (usable.isEmpty) None
      else {
        val p = snapPath(dir, usable.max)
        val st = fs.getFileStatus(p)
        val key = (p.toString, st.getModificationTime, st.getLen)
        Some(cache.compute(dir, (_, cur) =>
          if (cur != null && cur._1 == key) cur
          else {
            val in = fs.open(p)
            try key -> BloomFilter.readFrom(in) finally in.close()
          }))
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private val bcastCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((String, Long, Long, Option[Long]),
      org.apache.spark.broadcast.Broadcast[BloomFilter])]()

  /** [[read]] wrapped in a per-snapshot-cached `Broadcast` — the probe
    * hot path. Re-broadcasting the bitmap per probe is pure fixed
    * overhead (serialize + block-store write every time, for an
    * artifact that only changes when a new snapshot rolls); this keeps
    * ONE live broadcast per bloom directory, keyed by the snapshot
    * identity (path, mtime, length) plus the exclude view, and
    * unpersists the superseded one (non-blocking — unpersist only
    * drops executor copies; an in-flight task re-fetches lazily).
    */
  def readBroadcast(spark: SparkSession, dir: String,
      excludeBatch: Option[Long] = None)
      : Option[org.apache.spark.broadcast.Broadcast[BloomFilter]] =
    readKeyed(spark, dir, excludeBatch).map { case ((path, mtime, len), bf) =>
      val key = (path, mtime, len, excludeBatch)
      bcastCache.compute(dir, (_, cur) =>
        if (cur != null && cur._1 == key) cur
        else {
          if (cur != null) cur._2.unpersist(blocking = false)
          (key, spark.sparkContext.broadcast(bf))
        })._2
    }

  /** Drop every snapshot in `dir`, meta included (compaction: the
    * caller rebuilds one fresh snapshot from the compacted index,
    * resetting fpp drift from replay-superseded files and re-recording
    * geometry from its arguments).
    */
  def clear(spark: SparkSession, dir: String): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true)
  }
}
