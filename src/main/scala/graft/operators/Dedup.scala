package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Document deduplication operators for training-data pipelines, designed
  * shuffle-bounded for 100 TB corpora:
  *
  *  - exact: one hash-groupBy, the only shuffle is on the digest.
  *  - shingle-Jaccard: inverted-index blocking (explode shingles, join on
  *    shared shingle) with a document-frequency cap so hot shingles never
  *    create quadratic candidate blowup; exact verification only on the
  *    surviving candidate pairs.
  *  - MinHash-LSH: constant-size signatures (k permutations) per doc,
  *    banded into buckets; candidates come from bucket equi-joins —
  *    never a cross join — then exact-verified.
  *  - SimHash: 64-bit fingerprint, 16-bit band blocking, Hamming-verified.
  *
  * Per-document array math runs in compiled one-pass Scala UDFs (see
  * the shingleUdf note — interpreted higher-order lambdas re-evaluate
  * inner subtrees per element); the plan around them is scan -> narrow
  * transforms -> explode -> hash join(s).
  */
object Dedup {

  /** Shingles are emitted as SORTED 64-bit hashes, not strings: the
    * inverted-index shuffle carries 8-byte keys instead of ~20-byte
    * strings, and the verify step intersects two sorted long arrays
    * with a linear merge instead of building string hash sets.
    * Collisions (~n²/2^64) would only perturb a Jaccard count by 1.
    * (History: started as a Scala UDF over a token array — the
    * higher-order-function formulation re-evaluates the tokens subtree
    * per lambda element in interpreted eval; now a native one-pass
    * codegen expression over the raw text.)
    */

  /** (doc_id, shs) with distinct word-3-gram shingle hashes per
    * document, computed by the native one-pass expression
    * [[org.apache.spark.sql.graftx.TextShingles]] (no string allocs,
    * no UDF serde, stays in whole-stage codegen).
    *
    * The trailing hash repartition is a deliberate materialization
    * barrier: CollapseProject would otherwise push the shingle
    * computation through the downstream self-joins, re-shingling the
    * document once per CANDIDATE PAIR (measured: turns a 2s stage into
    * minutes at sf0.1). The exchange pins the arrays to computed-once
    * rows — and hash-partitioning by doc_id is also the layout the
    * verify joins want.
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // no emptiness filter on purpose: a `where(size(shs) > 0)` gets
    // pushed below the exchange and re-evaluates text_shingles per row
    // inside the Filter condition. Shingle-less docs are harmless
    // everywhere downstream — explode emits nothing for them and
    // MinHashBands returns no band keys for empty input.
    docs.select(
      col(idCol).as("doc_id"),
      org.apache.spark.sql.graftx.TextShingles.column(col(textCol)).as("shs"))
      .repartition(col("doc_id"))

  /** [[shingled]] minus the materialization barrier — ONLY for callers
    * that persist/checkpoint the result before fanning it out: the
    * cached blocks are the computed-once pin there, so the extra
    * exchange bought nothing (one shuffle of the batch per probe, pure
    * overhead at micro-batch cadence). Callers that hand the frame to
    * a multi-consumer plan WITHOUT materializing it must use
    * [[shingled]] — CollapseProject would re-shingle per consumer.
    */
  private[graft] def shingledUnpinned(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      org.apache.spark.sql.graftx.TextShingles.column(col(textCol)).as("shs"))

  /** Set Jaccard via linear merge of the sorted hash arrays — the
    * native codegen expression [[org.apache.spark.sql.graftx.JaccardSorted]]
    * (no serde, stays in whole-stage codegen across the candidate-pair
    * fan-out). Integer-count division, bit-identical to the oracle's
    * `len(list_intersect(..)) / (na + nb - inter)`.
    */
  private def jaccardCol(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.JaccardSorted.column(a, b)

  /** Broadcast budget (bytes) for the shingle-fetch verify joins —
    * `spark.graft.dedup.broadcastBudget`, default 256 MB: comfortably
    * inside a production executor heap, far below any 100 TB corpus.
    */
  def broadcastBudget(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.broadcastBudget")
      .map(_.toLong).getOrElse(256L << 20)

  /** The broadcast auto-gate: hint the shingle-table broadcast ONLY
    * when the optimizer's size estimate says it fits [[broadcastBudget]].
    * The estimate is the catalyst `sizeInBytes` (file-size-derived for
    * parquet corpora, carried through localCheckpoint), so the gate is
    * free — no job runs — and monotone in corpus size: a 100 TB
    * deployment can never be forced into a corpus-sized broadcast by a
    * default that was only ever measured at benchmark scale. Missing
    * stats surface as Long.MaxValue estimates => gate says no (the
    * scale-safe direction).
    */
  def shingleBroadcastFits(sh: DataFrame): Boolean = broadcastFits(sh)

  /** The same free, scale-safe gate for ANY candidate broadcast side
    * (e.g. a vocabulary-sized document-frequency table): hint only
    * when the Catalyst size estimate fits [[broadcastBudget]]; unknown
    * estimates (Long.MaxValue) say no.
    */
  def broadcastFits(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(broadcastBudget(df.sparkSession))

  /** Fetch both sides' shingle sets for candidate (ida, idb) pairs:
    * returns (ida, idb, sha, shb). The shared join shape behind every
    * exact verification (Jaccard, containment).
    *
    * `hintBroadcast` controls the shingle-fetch join strategy.
    * Some(true): broadcast the doc->shingles table — right whenever it
    * fits executor memory, and much faster here because the shingle
    * arrays have no stats (without the hint Spark sort-merge-joins and
    * shuffles pairs x ~500B arrays — measured 41s vs 4s at sf0.1).
    * An explicit hint is NEVER undone by AQE, so at corpus sizes where
    * the shingle table exceeds broadcast memory Some(false) makes the
    * join a shuffled equi-join on the 8-byte id — two shuffles of the
    * (small) pair table plus one of the shingle table, bounded at any
    * scale. None (the default) resolves via [[shingleBroadcastFits]]:
    * hint iff the size estimate fits the budget, so the plan that runs
    * is the plan the deployment's scale calls for.
    */
  def fetchShingles(pairs: DataFrame, sh: DataFrame,
      hintBroadcast: Option[Boolean] = None): DataFrame = {
    val hint = hintBroadcast.getOrElse(shingleBroadcastFits(sh))
    def side(d: DataFrame) = if (hint) broadcast(d) else d
    pairs
      .join(side(sh.select(col("doc_id").as("ida"), col("shs").as("sha"))), "ida")
      .join(side(sh.select(col("doc_id").as("idb"), col("shs").as("shb"))), "idb")
  }

  /** Exact-verify candidate (ida, idb) pairs against the shingle sets,
    * keeping pairs with Jaccard >= threshold. Shingle-fetch strategy:
    * see [[fetchShingles]] (None auto-gates on the size estimate).
    */
  def verifyJaccard(pairs: DataFrame, sh: DataFrame, threshold: Double,
      hintBroadcast: Option[Boolean] = None): DataFrame =
    fetchShingles(pairs, sh, hintBroadcast)
      .select(col("ida"), col("idb"),
        org.apache.spark.sql.graftx.RoundAwayFromZero
          .column(jaccardCol(col("sha"), col("shb")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Near-dup pairs via inverted-index blocking + exact Jaccard.
    * `dfCap` drops shingles appearing in more than dfCap docs from the
    * candidate join (the verify step still uses the full sets, so
    * verified scores are exact; only recall of pairs sharing NOTHING
    * but hot shingles is traded, the standard blocking bargain).
    *
    * `minShared` > 1 additionally drops candidate pairs sharing fewer
    * than that many rare shingles before the verify join — a ~10x
    * candidate cut on long-document corpora, but it can lose pairs of
    * VERY short documents (a 2-shingle doc can clear the Jaccard
    * threshold on one shared shingle). Default 1 = full blocking
    * recall; opt into 2+ when the corpus has no tiny documents.
    *
    * `verifyBroadcast = None` (default) auto-gates the shingle-fetch
    * broadcast on the corpus size estimate ([[shingleBroadcastFits]]).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Int = 50, minShared: Int = 1,
      verifyBroadcast: Option[Boolean] = None): DataFrame = {
    val sh = shingled(docs, idCol, textCol)
    verifyJaccard(jaccardCandidates(sh, dfCap, minShared), sh, threshold,
      verifyBroadcast)
  }

  /** Candidate (ida, idb) id pairs from the inverted-index blocking
    * chain over a [[shingled]] table — factored out so the pair
    * computation and the blocking audit can share one materialization
    * (see [[NearDupGraph]]).
    */
  def jaccardCandidates(sh: DataFrame, dfCap: Int,
      minShared: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("shs")).as("s"))
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap && col("df") >= 2)
    // barrier on the join key: the filtered postings are computed ONCE
    // (both self-join sides read the reused exchange) and the join is
    // already co-partitioned on s — no per-side explode+join re-run,
    // no extra exchange under the self-join
    val exc = ex.join(broadcast(rare.select("s")), "s")
      .repartition(col("s"))
    // minShared is the common-token blocking filter: the groupBy costs
    // the same shuffle the old .distinct() did, but pairs sharing only
    // one rare shingle never reach the verify join (measured at sf0.1:
    // 1.13M -> 112k candidates, all true pairs retained — a jaccard
    // >= 0.2 pair over ~50-shingle docs shares ~17 shingles, so
    // requiring 2 is the same recall bargain dfCap already makes).
    exc.as("a").join(exc.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("_shared"))
      .where(col("_shared") >= minShared)
      .select("ida", "idb")
  }

  /** Blocking-quality audit for the inverted-index candidate strategy:
    * one row of the numbers every entity-resolution deployment tracks —
    * how many candidate pairs blocking admitted vs the quadratic
    * all-pairs space (reduction ratio), and what fraction survived
    * exact verification (pairs quality / precision). The candidate
    * chain is IDENTICAL to [[jaccardPairs]]; counts are three bounded
    * actions over checkpointed intermediates (shingle table + candidate
    * ids), never a re-tokenize per count. The readout arithmetic runs
    * driver-side on the collected scalars with the exact IEEE op order
    * the DuckDB oracle uses, so the query hash-checks.
    */
  def blockingAudit(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, dfCap: Int = 50, minShared: Int = 1,
      verified: Option[DataFrame] = None): DataFrame = {
    val sh = shingled(docs, idCol, textCol).localCheckpoint(true)
    val cand = jaccardCandidates(sh, dfCap, minShared).localCheckpoint(true)
    val nv = verified.map(_.count())
      .getOrElse(verifyJaccard(cand, sh, threshold).count())
    blockingReadout(docs.sparkSession, sh.count(), cand.count(), nv)
  }

  /** The audit readout from already-counted scalars: driver arithmetic
    * with the exact IEEE op order the DuckDB oracle uses, so the query
    * hash-checks. Shared by the standalone [[blockingAudit]] and the
    * cached-graph path ([[NearDupGraph]] consumers, which count the
    * SHARED candidate/pair materializations instead of recomputing the
    * blocking cascade).
    */
  def blockingReadout(spark: org.apache.spark.sql.SparkSession,
      nd: Long, nc: Long, nv: Long): DataFrame = {
    import spark.implicits._
    val allPairs = nd.toDouble * (nd - 1).toDouble / 2.0
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nd, nc, nv,
        r6(1.0 - nc.toDouble / allPairs),
        r6(nv.toDouble / nc.toDouble)))
      .toDF("n_docs", "n_candidates", "n_verified",
        "reduction_ratio", "pairs_quality")
  }

  /** MinHash-LSH near-dup pairs: band the signature (native codegen
    * expression [[org.apache.spark.sql.graftx.MinHashBands]] — seeded
    * permutations baked into the plan, no UDF serde), bucket-join,
    * then exact-verify Jaccard >= threshold.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      verifyBroadcast: Option[Boolean] = None): DataFrame =
    minhashLshPairsShingled(shingled(docs, idCol, textCol), threshold,
      bands, rowsPerBand, verifyBroadcast)

  /** [[minhashLshPairs]] over an already-[[shingled]] table — the
    * funnel's share-one-shingle-pass entry point (`sh` persisted or
    * checkpointed by the caller, or carrying [[shingled]]'s exchange
    * barrier: something must pin the arrays to computed-once rows).
    */
  def minhashLshPairsShingled(sh: DataFrame, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4,
      verifyBroadcast: Option[Boolean] = None): DataFrame = {
    // barrier on the band key: signatures are minhashed ONCE (reused
    // exchange feeds both self-join sides, already co-partitioned)
    val bandKeys = sh.select(
      col("doc_id"),
      explode(org.apache.spark.sql.graftx.MinHashBands.column(
        col("shs"), bands, rowsPerBand)).as("bkey"))
      .repartition(col("bkey"))
    val cand = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    verifyJaccard(cand, sh, threshold, verifyBroadcast)
  }

  /** Fuzzy (similarity) join between two DIFFERENT tables on text
    * similarity — entity resolution. Same shuffle-bounded shape as the
    * self-dedup: both sides shingle once behind a barrier, candidates
    * come from an equi-join on the shingle hash (df-capped on the
    * right/index side so hot shingles can't go quadratic), and exact
    * Jaccard verification touches candidates only. Never a cross
    * join; at 100 TB the cost is O(postings) + O(collisions).
    * Returns (lid, rid, jaccard) with jaccard >= threshold.
    */
  def fuzzyJoin(left: DataFrame, lid: String, ltext: String,
      right: DataFrame, rid: String, rtext: String,
      threshold: Double, dfCap: Int = 100): DataFrame = {
    val lsh = shingled(left, lid, ltext)
    val rsh = shingled(right, rid, rtext)
    val lex = lsh.select(col("doc_id").as("lid"), explode(col("shs")).as("s"))
    val rex = rsh.select(col("doc_id").as("rid"), explode(col("shs")).as("s"))
    // cap on the right side's document frequency: it plays the index
    val rare = rex.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
    val cand = lex
      .join(rex.join(broadcast(rare.select("s")), "s"), "s")
      .select("lid", "rid").distinct()
    // NO broadcast hint on the corpus-side shingle fetch: the left
    // table is unbounded (the survivors lesson) — a shuffled equi-join
    // on the 8-byte id is the scale-safe default and AQE will still
    // broadcast when runtime stats allow. Only the probe side, small
    // by contract (it is the lookup list), carries the hint.
    cand
      .join(lsh.select(col("doc_id").as("lid"), col("shs").as("sha")), "lid")
      .join(broadcast(rsh.select(col("doc_id").as("rid"),
        col("shs").as("shb"))), "rid")
      .select(col("lid"), col("rid"),
        org.apache.spark.sql.graftx.RoundAwayFromZero
          .column(jaccardCol(col("sha"), col("shb")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Hash-prefix count the persisted LSH index partitions by —
    * `spark.graft.lsh.indexPrefixes`; when unset, [[writeLshIndex]]
    * DERIVES it from the corpus size estimate and every compaction
    * RE-derives it from the index's real on-disk bytes
    * ([[IndexLifecycle.derivePrefixes]]: bytes / 128 MB target,
    * power-of-two, clamped [16, 65536]) — so a funnel that started
    * tiny upgrades its modulus as it grows instead of freezing the
    * first write's guess forever. Read at WRITE time and recorded in
    * the index's meta file; probes always use the recorded value,
    * never the live conf, so changing the conf can never mis-prune an
    * existing index.
    */
  def lshIndexPrefixes(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.lsh.indexPrefixes")
      .map(_.toInt).getOrElse(16)

  /** The modulus for a NEW index over `docs`: the conf when set, else
    * derived from the Catalyst size estimate (file-size-backed for
    * parquet corpora; free — no job runs).
    */
  def lshPrefixesFor(docs: DataFrame): Int = {
    val spark = docs.sparkSession
    spark.conf.getOption("spark.graft.lsh.indexPrefixes").map(_.toInt)
      .getOrElse(IndexLifecycle.derivePrefixes(spark,
        docs.queryExecution.optimizedPlan.stats.sizeInBytes))
  }

  /** Layout contract of a persisted LSH index, recorded next to the
    * data (`_graft_lsh_meta`, [[IndexLifecycle]] props): the prefix
    * modulus plus the banding params. Probing with different banding
    * than the index was built with silently matches nothing, and
    * pruning with a different modulus silently LOSES matches — both
    * now fail fast instead.
    */
  final case class LshIndexMeta(prefixes: Int, bands: Int, rowsPerBand: Int)

  /** The index's physical data root: the current generation after a
    * compaction, the directory itself before ([[IndexLifecycle
    * .resolveRoot]]); also heals any pre-generation crash state first.
    */
  private def lshRoot(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    IndexLifecycle.recoverLegacySwap(spark, dir)
    IndexLifecycle.resolveRoot(spark, dir)
  }

  private def writeLshMeta(spark: org.apache.spark.sql.SparkSession,
      root: String, m: LshIndexMeta): Unit =
    IndexLifecycle.writeProps(spark, s"$root/_graft_lsh_meta", Seq(
      "prefixes" -> m.prefixes.toString,
      "bands" -> m.bands.toString,
      "rowsPerBand" -> m.rowsPerBand.toString))

  /** None = legacy/unknown layout: probes fall back to the full scan
    * (correct, just not pruned) and appends preserve the flat layout.
    */
  def readLshMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[LshIndexMeta] = {
    val root = IndexLifecycle.resolveRoot(spark, dir)
    IndexLifecycle.readProps(spark, s"$root/_graft_lsh_meta").map(kv =>
      LshIndexMeta(kv("prefixes").toInt, kv("bands").toInt,
        kv("rowsPerBand").toInt))
  }

  /** Expected distinct band keys for the index's rolling key bloom —
    * `spark.graft.lsh.bloomCapacity`, default AUTO (-1): the first
    * roll sizes the directory to 16x its own key count, recorded in
    * `_graft_bloom_meta` so every later snapshot stays bit-compatible,
    * and a compaction rebuild re-sizes to 16x the full corpus (see
    * [[RollingBloom.roll]]). Set the conf explicitly when the
    * deployment's total band keys (16 per doc at the defaults) are
    * known up front — an over-full bloom degrades fpp, which weakens
    * pruning but never results (no false negatives).
    */
  def lshBloomCapacity(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.lsh.bloomCapacity")
      .map(_.toLong).getOrElse(-1L)

  /** Bloom false-positive rate — `spark.graft.lsh.bloomFpp`, default
    * 1%. The knob that sizes pruning at scale: the probe touches
    * ~(true matches + fpp × batch keys) prefixes, so fpp bounds the
    * wasted partition reads per batch. Halving fpp costs ~1.44 bits
    * per key of bloom size.
    */
  def lshBloomFpp(spark: org.apache.spark.sql.SparkSession): Double =
    spark.conf.getOption("spark.graft.lsh.bloomFpp")
      .map(_.toDouble).getOrElse(0.01)

  /** OR-merge the just-written band keys into the rolling key bloom
    * (read from `bandsPath` so the batch is never re-shingled) — the
    * [[RollingBloom]] lifecycle under `<root>/keybloom`.
    */
  private def rollLshBloom(spark: org.apache.spark.sql.SparkSession,
      root: String, bandsPath: String, batch: Option[Long]): Unit =
    RollingBloom.roll(spark, s"$root/keybloom",
      RunManifest.readParquet(spark, bandsPath, Seq(bandsPath)), "bkey",
      batch, lshBloomCapacity(spark), lshBloomFpp(spark))

  /** Newest rolling key bloom, excluding the given batch's own
    * snapshot (replay safety). None = no bloom yet (legacy index or
    * first batch) — probes skip the pre-filter, which is correct,
    * just unpruned.
    */
  def readLshBloom(spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeBatch: Option[Long] = None)
      : Option[org.apache.spark.util.sketch.BloomFilter] =
    RollingBloom.read(spark,
      s"${IndexLifecycle.resolveRoot(spark, dir)}/keybloom", excludeBatch)

  /** [[readLshBloom]] as a snapshot-cached broadcast — the probe's hot
    * path ([[RollingBloom.readBroadcast]]: one live broadcast per
    * bloom directory, refreshed only when a new snapshot rolls, so
    * repeated probes stop paying a fresh bitmap broadcast each).
    */
  def readLshBloomBroadcast(spark: org.apache.spark.sql.SparkSession,
      dir: String, excludeBatch: Option[Long] = None)
      : Option[org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]] =
    RollingBloom.readBroadcast(spark,
      s"${IndexLifecycle.resolveRoot(spark, dir)}/keybloom", excludeBatch)

  /** (doc_id, bkey) band keys of a batch — the probe side of the index
    * join (shingle + minhash-band in one pass).
    */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    shingled(docs, idCol, textCol).select(
      col("doc_id"),
      explode(org.apache.spark.sql.graftx.MinHashBands.column(
        col("shs"), bands, rowsPerBand)).as("bkey"))

  /** (doc_id, bkey, bp) band rows with the hash-prefix partition key. */
  private def bandRows(sh: DataFrame, bands: Int, rowsPerBand: Int,
      prefixes: Int): DataFrame =
    sh.select(
        col("doc_id"),
        explode(org.apache.spark.sql.graftx.MinHashBands.column(
          col("shs"), bands, rowsPerBand)).as("bkey"))
      .withColumn("bp", pmod(hash(col("bkey")), lit(prefixes)))

  /** Persist the corpus's MinHash-LSH index: the banded signature table
    * (bkey, doc_id) plus the shingle sets needed for exact
    * verification. This is what makes INCREMENTAL dedup possible at
    * 100 TB — a new ingest batch probes the index instead of
    * recomputing corpus-wide signatures and pairs (the same build-once
    * / probe-cheap lifecycle as the IVF ANN index).
    *
    * Layout (the sub-linear-probe contract): `bands/` is
    * hive-partitioned by `bp = pmod(hash(bkey), prefixes)` and
    * `shingles/` by `sp = pmod(hash(doc_id), prefixes)`, with the
    * modulus recorded in `_graft_lsh_meta`; `keybloom/` holds a
    * rolling bloom of every indexed band key. [[dedupAgainstIndex]]
    * first drops batch keys the bloom proves absent (no false
    * negatives — only ~true collisions survive), then PARTITION-PRUNES
    * both reads to the survivors' prefixes, so probe I/O tracks match
    * density — the difference between O(batch matches) and O(history)
    * per ingest micro-batch. Scale the two knobs together: `prefixes`
    * bounds bytes-per-touched-partition, `bloomCapacity` keeps the
    * pre-filter's fpp low as the corpus grows.
    */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    val spark = docs.sparkSession
    val root = lshRoot(spark, dir)
    val prefixes = lshPrefixesFor(docs)
    val sh = shingled(docs, idCol, textCol)
    // repartition ON the partition column: each task owns whole
    // prefixes, so the write emits one file per (task, prefix) instead
    // of tasks × prefixes small files
    bandRows(sh, bands, rowsPerBand, prefixes)
      .repartition(col("bp"))
      .write.mode("overwrite").partitionBy("bp").parquet(s"$root/bands")
    sh.withColumn("sp", pmod(hash(col("doc_id")), lit(prefixes)))
      .repartition(col("sp"))
      .write.mode("overwrite").partitionBy("sp").parquet(s"$root/shingles")
    RollingBloom.clear(spark, s"$root/keybloom")
    rollLshBloom(spark, root, s"$root/bands", None)
    writeLshMeta(spark, root, LshIndexMeta(prefixes, bands, rowsPerBand))
  }

  /** Append an (already deduplicated) ingest batch into the index.
    *
    * `subdir = Some(batchId)` writes into `bands/batch=<id>/bp=...`
    * (and `shingles/batch=<id>/sp=...`) with OVERWRITE semantics — the
    * idempotent-replay unit for streaming ingest (a foreachBatch retry
    * overwrites its own subtree instead of double-appending), and the
    * partition column a replayed probe uses to exclude its own
    * half-written batch. Use it for ALL writes to a given index or for
    * none: partition discovery requires a uniform directory depth.
    *
    * Appending to a legacy (meta-less) flat index preserves the flat
    * layout; `subdir` requires the partitioned layout.
    */
  def appendToLshIndex(batch: DataFrame, idCol: String, textCol: String,
      dir: String, bands: Int = 16, rowsPerBand: Int = 4,
      subdir: Option[Long] = None): Unit = {
    // an EMPTY batch must not write at all: on creation, partitionBy
    // of zero rows leaves bands/ with no data files and the next
    // probe's read dies on schema inference; on a subdir append the
    // bloom roll re-reads the just-written (file-less) subtree and
    // dies the same way. Skipping is replay-safe — the batch is a
    // deterministic function of its input, so a replay recomputes
    // empty and skips again. The isEmpty check is a limit-1 job over
    // an (in the funnel) already-checkpointed frame.
    if (batch.isEmpty) return
    appendShingledToLshIndex(shingled(batch, idCol, textCol), dir,
      bands, rowsPerBand, subdir)
  }

  /** [[appendToLshIndex]] over an already-[[shingled]] table. The
    * caller must guarantee `sh` is NON-EMPTY (the emptiness contract
    * above) and materialized-or-barriered like every other shingled
    * consumer — the funnel passes its persisted batch shingle table,
    * so the append pays zero additional shingle passes.
    */
  def appendShingledToLshIndex(sh: DataFrame, dir: String,
      bands: Int = 16, rowsPerBand: Int = 4,
      subdir: Option[Long] = None): Unit = {
    val spark = sh.sparkSession
    val root = lshRoot(spark, dir)
    val meta = readLshMeta(spark, dir)
    meta.foreach { m =>
      require(m.bands == bands && m.rowsPerBand == rowsPerBand,
        s"index at $dir was built with bands=${m.bands}/" +
          s"rowsPerBand=${m.rowsPerBand}, append used $bands/$rowsPerBand")
    }
    if (meta.isEmpty && subdir.isEmpty &&
        exists(spark, s"$root/bands")) {
      // legacy flat index: preserve its layout
      sh.select(
          col("doc_id"),
          explode(org.apache.spark.sql.graftx.MinHashBands.column(
            col("shs"), bands, rowsPerBand)).as("bkey"))
        .write.mode("append").parquet(s"$root/bands")
      sh.write.mode("append").parquet(s"$root/shingles")
      return
    }
    // first write of a new index: derive the modulus from the shingle
    // table's size estimate (same free Catalyst-stats source as
    // [[lshPrefixesFor]]; both clamp to the same [16, 65536] band).
    // NOTE (r14 refactor, r15 advisor): before the shingled() entry
    // points this estimated the RAW batch text; shingle-array stats
    // run larger, so a fresh index may start at a coarser modulus than
    // pre-r14 builds. Correctness is unaffected (probes use the
    // RECORDED meta, never the live estimate) and the drift is one
    // clamp band at most; deployments that tuned the old sizing pin
    // `spark.graft.lsh.indexPrefixes` explicitly, which always wins.
    val prefixes = meta.map(_.prefixes).getOrElse(lshPrefixesFor(sh))
    // uniform-depth guard: partition discovery cannot mix batch=<id>
    // subtrees with a flat bp= layout in one table — fail fast instead
    // of a cryptic "conflicting directory structures" at the next probe
    if (exists(spark, s"$root/bands")) {
      val p = new org.apache.hadoop.fs.Path(s"$root/bands")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasBatchDirs = fs.listStatus(p)
        .exists(_.getPath.getName.startsWith("batch="))
      require(hasBatchDirs == subdir.isDefined,
        s"index at $dir uses the ${if (hasBatchDirs) "per-batch (subdir)"
          else "flat"} layout — use subdir=${if (hasBatchDirs) "Some(id)"
          else "None"} for ALL appends to one index")
    }
    subdir match {
      case Some(id) =>
        // streaming run: UNPARTITIONED — micro-batches sit far below
        // the prefix-partition size target, so per-batch bp/sp
        // partitioning bought no pruning and cost two shuffles + a
        // small-file fan-out per batch; tier folds rewrite merged
        // runs prefix-partitioned instead ([[maintainLshIndex]])
        val bandsPath = RunManifest.runPath(root, "bands", id)
        RunManifest.sizedWrite(
          sh.select(
            col("doc_id"),
            explode(org.apache.spark.sql.graftx.MinHashBands.column(
              col("shs"), bands, rowsPerBand)).as("bkey")),
          bandsPath)
        RunManifest.sizedWrite(sh.select("doc_id", "shs"),
          RunManifest.runPath(root, "shingles", id))
        // read the just-written run back for the bloom roll
        // (batch-sized, no re-shingle)
        rollLshBloom(spark, root, bandsPath, subdir)
        if (meta.isEmpty)
          writeLshMeta(spark, root,
            LshIndexMeta(prefixes, bands, rowsPerBand))
        RunManifest.addRun(spark, root, Seq("bands", "shingles"), id,
          meta.map(_.prefixes))
      case None =>
        val batchBands = bandRows(sh, bands, rowsPerBand, prefixes)
        batchBands
          .repartition(col("bp"))
          .write.mode("append").partitionBy("bp").parquet(s"$root/bands")
        sh.withColumn("sp", pmod(hash(col("doc_id")), lit(prefixes)))
          .repartition(col("sp"))
          .write.mode("append").partitionBy("sp")
          .parquet(s"$root/shingles")
        // a flat append must NOT read the shared bands path back —
        // that would re-bloom the whole history per append — so it
        // pays one extra batch shingle pass instead
        RollingBloom.roll(spark, s"$root/keybloom", batchBands,
          "bkey", None, lshBloomCapacity(spark), lshBloomFpp(spark))
        if (meta.isEmpty)
          writeLshMeta(spark, root,
            LshIndexMeta(prefixes, bands, rowsPerBand))
    }
  }

  private def exists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Run `f` under a Spark job description (guide discipline: label
    * multi-job operators so the UI/job log attributes each driver
    * round-trip), restoring the caller's label after.
    */
  private def labeled[A](spark: org.apache.spark.sql.SparkSession,
      desc: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** Near-dup pairs between an ingest batch and the indexed corpus:
    * batch band keys equi-join the persisted band table, then exact
    * Jaccard verification against the persisted shingle sets. Band
    * seeds are baked into the expression, so batch signatures collide
    * with index signatures exactly as a full-corpus run would.
    * Returns (batch_id, corpus_id, jaccard).
    *
    * Probe cost is sub-linear in index size, the property incremental
    * ingest at 100 TB lives on: the rolling key bloom first drops
    * every batch band key provably absent from the index (survivors ~
    * true collisions + fpp), the survivors' `bp` prefixes (a bounded
    * collect) PARTITION-PRUNE the bands read, and the verified
    * candidates' corpus ids likewise prune the shingle read to their
    * `sp` prefixes. Only a legacy meta-less index falls back to the
    * full scan. The batch-side shingle fetch broadcasts only when the
    * size estimate fits [[broadcastBudget]] — an oversized backfill
    * batch takes the shuffled equi-join instead of shipping every
    * shingle array through the driver.
    *
    * `excludeBatch` (streaming replay): drop index rows whose `batch`
    * partition equals the given id, so a foreachBatch retry does not
    * match the half-written remains of its own previous attempt.
    */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double, bands: Int = 16,
      rowsPerBand: Int = 4, excludeBatch: Option[Long] = None): DataFrame =
    // batch-sized materialization: ONE shingle pass feeds the band
    // keys, the prefix collects and the verify fetch. persist(), not
    // eager localCheckpoint — the prefix collects inside the pruned
    // stages materialize these anyway, so eager checkpoints would just
    // add three dedicated jobs of pure overhead per probe (measured
    // ~0.5 s at bench scale) — and the UNPINNED shingle projection: the
    // cache is the computed-once barrier here, so [[shingled]]'s
    // exchange would be one more full batch shuffle per probe for
    // nothing.
    //
    // CACHE CONTRACT (r15): the probe itself unpersists its internal
    // band table once the prune collects consumed it; the batch
    // shingle table built here and the candidate table stay persisted
    // because the RETURNED lazy plan reads them — a caller that
    // materializes the result and keeps the session alive should
    // reclaim them the way StreamingFunnel.processBatch does (snapshot
    // sparkContext.getPersistentRDDs before the call, unpersist the
    // difference after materializing). Ad-hoc callers that skip this
    // leak two bounded batch-sized cache entries per probe.
    dedupAgainstIndexShingled(
      shingledUnpinned(batch, idCol, textCol).persist(), dir, threshold,
      bands, rowsPerBand, excludeBatch)

  /** [[dedupAgainstIndex]] over an already-[[shingled]] batch table —
    * the funnel's share-one-shingle-pass entry point. `sh` must be
    * persisted or checkpointed by the caller: the probe's bounded
    * collects materialize it, and the verify join re-reads it.
    */
  def dedupAgainstIndexShingled(sh: DataFrame, dir: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4,
      excludeBatch: Option[Long] = None): DataFrame = {
    val spark = sh.sparkSession
    // resolve the generation ONCE: every read below sees one
    // consistent snapshot even if a compaction commits mid-probe
    val root = lshRoot(spark, dir)
    val meta = readLshMeta(spark, root)
    meta.foreach { m =>
      require(m.bands == bands && m.rowsPerBand == rowsPerBand,
        s"index at $dir was built with bands=${m.bands}/" +
          s"rowsPerBand=${m.rowsPerBand}, probe used $bands/$rowsPerBand")
    }
    val batchBands = sh.select(
      col("doc_id"),
      explode(org.apache.spark.sql.graftx.MinHashBands.column(
        col("shs"), bands, rowsPerBand)).as("bkey"))
      .persist()
    val cand = indexCandidates(spark, root, batchBands, meta, excludeBatch)
      .persist()
    val corpusSh = indexShinglesFor(spark, root, cand, meta, excludeBatch)
    // batchBands is consumed ENTIRELY inside the two prune collects
    // above (the returned verify plan reads only cand + sh), so its
    // cached blocks can be dropped here instead of leaking until the
    // caller's cleanup — correctness is lineage's problem (an evicted
    // cand partition recomputes through sh, which stays persisted)
    batchBands.unpersist(blocking = false)
    verifyAgainstIndex(cand, sh, corpusSh, threshold)
  }

  /** (batch_id, corpus_id) candidate pairs from the PRUNED bands read:
    * the batch's band keys determine the touched `bp` prefixes (a
    * bounded collect — at most `prefixes` values), the index read
    * partition-prunes to those, and the equi-join on the 8-byte band
    * key yields candidates. Factored out of [[dedupAgainstIndex]] so
    * the plan pin (IncrementalIndexSpec) asserts the partition filter
    * on the very frame the probe executes — the checkpoint barriers in
    * the composed probe hide these scans from its final plan.
    */
  def indexCandidates(spark: org.apache.spark.sql.SparkSession, dir0: String,
      batchBands: DataFrame, meta: Option[LshIndexMeta],
      excludeBatch: Option[Long]): DataFrame = {
    val dir = IndexLifecycle.resolveRoot(spark, dir0)
    // bloom pre-filter: a batch's band keys are uniform hashes, so
    // WITHOUT it a realistic batch touches every prefix and the
    // partition prune is vacuous. The rolling index bloom (no false
    // negatives) drops every batch key absent from the index first —
    // the survivors are ~the true collisions (+fpp), typically a tiny
    // fraction of the batch — and THEIR prefixes drive the prune, so
    // probe I/O tracks actual match density, not batch or index size.
    val bloom = readLshBloomBroadcast(spark, dir, excludeBatch)
    val probeKeys = bloom match {
      case Some(b) if meta.isDefined =>
        val mightContain = udf((k: Long) => b.value.mightContainLong(k))
        batchBands.where(mightContain(col("bkey")))
      case _ => batchBands
    }
    def emptyPairs: DataFrame = batchBands
      .select(col("doc_id").as("batch_id"), col("doc_id").as("corpus_id"))
      .where(lit(false))
    val bandsIdx = RunManifest.read(spark, dir) match {
      case Some(man) =>
        val runs = man.live.filterNot(r => excludeBatch.contains(r.id))
        if (runs.isEmpty) return emptyPairs
        // ONE job: bloom-survivor count plus the touched-prefix set
        // per modulus group (merged runs carry their own recorded
        // modulus; unpartitioned append runs are read whole — they
        // are micro-batch-sized by construction). The collect is the
        // probe's first job (it also materializes the batch
        // persists), so its stage count is fixed per micro-batch.
        val (nSusp, touched) = labeled(spark,
          "lsh-probe: bloom screen + touched band prefixes")(
          RunManifest.touchedSets(
            probeKeys, col("bkey"), runs.flatMap(_.prefixes)))
        // fast path: no batch key exists anywhere in the index — skip
        // the bands read and the candidate join entirely
        if (bloom.isDefined && nSusp == 0L) return emptyPairs
        RunManifest.readData(spark, dir, "bands", runs,
          Seq("doc_id", "bkey"), "bp", m => touched.getOrElse(m, Nil))
      case None =>
        // legacy (pre-manifest) layout: glob + recorded-modulus prune
        // — only correct fold-free (lost manifests fail loudly)
        RunManifest.requireNoFoldOrphans(spark, dir, "bands")
        val raw = dropOwnBatch(spark.read.parquet(s"$dir/bands"),
          excludeBatch)
        meta match {
          case Some(m) =>
            val touched = labeled(spark,
              "lsh-probe: bloom screen + touched band prefixes")(
              touchedPrefixes(probeKeys,
                pmod(hash(col("bkey")), lit(m.prefixes))))
            raw.where(col("bp").isin(touched: _*))
          case None => raw
        }
    }
    // NO broadcast hint on the PROBE side of the candidate join
    // (round-14 A/B): hinting the bloom-surviving probe side measured
    // ~0.7 s SLOWER per probe (dedicated broadcast-build job + eager
    // size-estimate computation). The INDEX side is different (r15):
    // the bands read is already partition-pruned to the bloom
    // survivors' prefixes, so its Catalyst size estimate is the pruned
    // FILE bytes — free, no job — and broadcasting it when it fits the
    // budget removes both exchanges of the join (the probe side then
    // streams straight out of its cache). At 100 TB a dense-match
    // batch fails the gate and takes the shuffled join, which AQE can
    // still convert from runtime sizes; a legacy meta-less index's
    // estimate is the full table and likewise fails the gate.
    val bandsSide =
      if (broadcastFits(bandsIdx)) broadcast(bandsIdx) else bandsIdx
    bandsSide
      .join(probeKeys.withColumnRenamed("doc_id", "batch_id"), "bkey")
      .select(col("batch_id"), col("doc_id").as("corpus_id"))
      // self-match guard for re-probes after the batch was appended
      .where(col("batch_id") =!= col("corpus_id"))
      .distinct()
  }

  /** The PRUNED shingles read serving a candidate set: the candidates'
    * corpus ids determine the touched `sp` prefixes, so exact
    * verification reads only the shingle partitions it will join.
    * `cand` should be persisted/cached (the probe does) — the prefix
    * collect here is what first materializes it; the verify join is
    * the second consumer.
    */
  def indexShinglesFor(spark: org.apache.spark.sql.SparkSession, dir0: String,
      cand: DataFrame, meta: Option[LshIndexMeta],
      excludeBatch: Option[Long]): DataFrame = {
    val dir = IndexLifecycle.resolveRoot(spark, dir0)
    RunManifest.read(spark, dir) match {
      case Some(man) =>
        val runs = man.live.filterNot(r => excludeBatch.contains(r.id))
        if (runs.isEmpty)
          // no live index rows => no candidates either; an empty frame
          // with the shingle schema keeps the verify join well-typed
          return cand.where(lit(false)).select(
            col("corpus_id").as("doc_id"),
            org.apache.spark.sql.graftx.TextShingles.column(lit(""))
              .as("shs"))
        val (nCand, touched) = labeled(spark,
          "lsh-probe: candidate shingle prefixes")(
          RunManifest.touchedSets(
            cand, col("corpus_id"), runs.flatMap(_.prefixes)))
        // fast path: zero candidates means the verify join is empty —
        // skip the shingles read outright (same typed-empty contract
        // as the no-live-runs case above)
        if (nCand == 0L)
          return cand.where(lit(false)).select(
            col("corpus_id").as("doc_id"),
            org.apache.spark.sql.graftx.TextShingles.column(lit(""))
              .as("shs"))
        RunManifest.readData(spark, dir, "shingles", runs,
          Seq("doc_id", "shs"), "sp", m => touched.getOrElse(m, Nil))
      case None =>
        RunManifest.requireNoFoldOrphans(spark, dir, "shingles")
        val raw = dropOwnBatch(spark.read.parquet(s"$dir/shingles"),
          excludeBatch)
        meta match {
          case Some(m) =>
            val touched = labeled(spark,
              "lsh-probe: candidate shingle prefixes")(
              touchedPrefixes(cand,
                pmod(hash(col("corpus_id")), lit(m.prefixes))))
            // zero candidates => zero touched prefixes (corpus ids are
            // non-null): same fast path as the manifest branch
            if (touched.isEmpty)
              return cand.where(lit(false)).select(
                col("corpus_id").as("doc_id"),
                org.apache.spark.sql.graftx.TextShingles.column(lit(""))
                  .as("shs"))
            raw.where(col("sp").isin(touched: _*))
          case None => raw
        }
    }
  }

  /** The bounded prefix-set collect behind both pruned index reads:
    * at most `prefixes` distinct ints, reduced via collect_set (one
    * partial+final agg — no exchange, no multi-partition fetch).
    */
  private def touchedPrefixes(df: DataFrame, prefix: Column): Seq[Int] =
    df.select(prefix.as("_p")).agg(collect_set(col("_p")))
      .collect()(0).getSeq[Int](0)

  /** Compact a streaming-layout LSH index (per-batch `batch=<id>`
    * subtrees, [[appendToLshIndex]]'s `subdir` lifecycle) back to ONE
    * batch subtree per table — the maintenance pass months of ingest
    * need: file and directory counts otherwise grow linearly with
    * batch count (every append adds up to `prefixes` directories), so
    * per-probe partition DISCOVERY — not the pruned scan — becomes the
    * creeping cost. Also rebuilds the rolling key bloom from scratch,
    * resetting any fpp drift from replay-superseded snapshots (and,
    * since [[RollingBloom]] records geometry per directory, re-sizing
    * an auto-sized bloom to the full compacted corpus).
    *
    * Safety ([[IndexLifecycle.compactInto]]): the compacted tree is
    * built COMPLETELY under a fresh `<dir>/gen-<n>` and committed by
    * one atomic pointer rename — the live path is never renamed or
    * absent, a concurrent probe reads either the old or the new
    * generation in full, and a crash anywhere leaves the old pointer
    * (and thus the old index) live. Run from the single ingest
    * writer, between batches, like any table OPTIMIZE.
    *
    * Returns the batch id the compacted data landed under (the highest
    * id folded, so later appends keep increasing).
    *
    * `excludeBatch` (streaming auto-compaction): fold every subtree
    * EXCEPT the given batch's, which is rewritten unchanged under its
    * own `batch=<id>`. Compaction inside a foreachBatch runs right
    * after the batch's own appends but possibly BEFORE the trigger
    * commits — without the exclusion, a replay of that batch (which
    * probes with its own id excluded) would find the ENTIRE folded
    * history under `batch=<id>` and exclude all of it. Returns -1 if
    * only the excluded batch exists (nothing to fold).
    */
  /** The LSH merge for one fold group: bands + shingles rewritten
    * hash-prefix-partitioned at a modulus derived from the MERGED size
    * (conf wins) — the probe's pruning upgrades as the index grows
    * without a global rewrite.
    */
  private def mergeLshRuns(spark: org.apache.spark.sql.SparkSession,
      root: String)(runs: Seq[RunManifest.Run], newId: Long)
      : Option[Int] = {
    val prefixes = spark.conf.getOption("spark.graft.lsh.indexPrefixes")
      .map(_.toInt).orElse(IndexLifecycle.derivePrefixesForRun(spark,
        BigInt(runs.map(_.bytes).sum)))
    val bands = RunManifest.readData(spark, root, "bands", runs,
      Seq("doc_id", "bkey"))
    val shingles = RunManifest.readData(spark, root, "shingles", runs,
      Seq("doc_id", "shs"))
    prefixes match {
      case Some(p) =>
        bands.withColumn("bp", pmod(hash(col("bkey")), lit(p)))
          .repartition(col("bp"))
          .write.mode("overwrite").partitionBy("bp")
          .parquet(RunManifest.runPath(root, "bands", newId))
        shingles.withColumn("sp", pmod(hash(col("doc_id")), lit(p)))
          .repartition(col("sp"))
          .write.mode("overwrite").partitionBy("sp")
          .parquet(RunManifest.runPath(root, "shingles", newId))
      case None =>
        RunManifest.sizedWrite(bands,
          RunManifest.runPath(root, "bands", newId))
        RunManifest.sizedWrite(shingles,
          RunManifest.runPath(root, "shingles", newId))
    }
    prefixes
  }

  /** One TIERED maintenance cycle over a streaming-layout LSH index
    * ([[RunManifest.tierMaintain]]): folds only the run tiers whose
    * member count tripped the threshold — per-cycle work proportional
    * to data appended since the last cycle; the key bloom is untouched
    * (a fold moves keys between files, the key SET is unchanged).
    * Returns the number of fold groups committed.
    */
  def maintainLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, excludeFrom: Long = Long.MaxValue): Int = {
    val root = lshRoot(spark, dir)
    if (!exists(spark, s"$root/bands")) return 0
    RunManifest.ensureStreaming(spark, root, Seq("bands", "shingles"),
        readLshMeta(spark, root).map(_.prefixes)) match {
      case Some(_) => RunManifest.tierMaintain(spark, root,
        Seq("bands", "shingles"), excludeFrom)(mergeLshRuns(spark, root))
      case None => 0 // flat (writeLshIndex) layout: already one tree
    }
  }

  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, excludeBatch: Option[Long] = None): Long = {
    val root = lshRoot(spark, dir)
    RunManifest.read(spark, root).foreach { _ =>
      // manifest index: the deep fold commits in place by manifest
      // swap — same reader atomicity as the generation pointer, no
      // tree copy. Record the fold's modulus in the meta (the
      // compaction-re-derives contract) and rebuild the key bloom
      // from the folded bands (fpp-drift reset + auto-size upgrade —
      // the step tiered maintenance deliberately skips).
      val excludeFrom = excludeBatch.getOrElse(Long.MaxValue)
      val meta = readLshMeta(spark, root).getOrElse(
        throw new IllegalArgumentException(s"$dir has no _graft_lsh_meta"))
      RunManifest.foldAll(spark, root, Seq("bands", "shingles"),
        excludeFrom)(mergeLshRuns(spark, root))
      val man = RunManifest.read(spark, root).get
      val fold = man.live.filter(_.id < excludeFrom)
      fold.flatMap(_.prefixes).headOption.foreach { p =>
        writeLshMeta(spark, root, LshIndexMeta(p, meta.bands,
          meta.rowsPerBand))
      }
      if (fold.nonEmpty) {
        RollingBloom.clear(spark, s"$root/keybloom")
        RollingBloom.roll(spark, s"$root/keybloom",
          RunManifest.readData(spark, root, "bands", man.live,
            Seq("bkey")),
          "bkey", Some(fold.map(_.id).min), lshBloomCapacity(spark),
          lshBloomFpp(spark))
      }
      return fold.map(_.id).maxOption.getOrElse(-1L)
    }
    val bandsDir = new org.apache.hadoop.fs.Path(s"$root/bands")
    val fs = bandsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(bandsDir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") =>
        s.stripPrefix("batch=").toLong }
    require(ids.nonEmpty,
      s"$dir/bands has no batch=<id> subtrees — compaction only applies " +
        "to the streaming (subdir) layout; a writeLshIndex-built index " +
        "is already one tree")
    val fold = ids.filterNot(excludeBatch.contains)
    if (fold.isEmpty) return -1L
    val keep = fold.max
    val meta = readLshMeta(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$dir has no _graft_lsh_meta"))
    // re-derive the prefix modulus from the index's REAL on-disk size
    // (conf still wins when set): a funnel whose first tiny batch
    // froze a small modulus upgrades here as the corpus grows —
    // result-invisible, since compaction rewrites every partition
    // column anyway and records the new modulus in the meta
    val prefixes = spark.conf.getOption("spark.graft.lsh.indexPrefixes")
      .map(_.toInt).getOrElse(IndexLifecycle.derivePrefixes(spark,
        BigInt(IndexLifecycle.dirBytes(spark, s"$root/bands") +
          IndexLifecycle.dirBytes(spark, s"$root/shingles"))))
    val cur = excludeBatch.filter(ids.contains)
    IndexLifecycle.compactInto(spark, dir)(
      Set("bands", "shingles", "keybloom", "_graft_lsh_meta")) { newRoot =>
      def foldTable(table: String, part: String, keyPart: Column,
          cols: Seq[String]): Unit = {
        val src = spark.read.parquet(s"$root/$table")
          .withColumn(part, pmod(hash(keyPart), lit(prefixes)))
        val folded = excludeBatch match {
          case Some(id) => src.where(col("batch") =!= lit(id))
          case None => src
        }
        folded.select(cols.map(col): _*)
          .repartition(col(part))
          .write.mode("overwrite").partitionBy(part)
          .parquet(s"$newRoot/$table/batch=$keep")
        // the excluded (in-flight) batch's subtree rides along
        // unchanged so a replay still sees exactly its own remains
        cur.foreach { id =>
          src.where(col("batch") === lit(id))
            .select(cols.map(col): _*)
            .repartition(col(part))
            .write.mode("overwrite").partitionBy(part)
            .parquet(s"$newRoot/$table/batch=$id")
        }
      }
      foldTable("bands", "bp", col("bkey"), Seq("doc_id", "bkey", "bp"))
      foldTable("shingles", "sp", col("doc_id"),
        Seq("doc_id", "shs", "sp"))
      // bloom over ALL bands (excluded subtree included): a replayed
      // probe reading this snapshot sees its own keys as positives —
      // weaker pruning for that one replay, never wrong results (its
      // band ROWS are still dropped by the batch-partition exclusion)
      rollLshBloom(spark, newRoot, s"$newRoot/bands", Some(keep))
      writeLshMeta(spark, newRoot,
        LshIndexMeta(prefixes, meta.bands, meta.rowsPerBand))
    }
    keep
  }

  private def dropOwnBatch(df: DataFrame,
      excludeBatch: Option[Long]): DataFrame = excludeBatch match {
    case Some(id) if df.schema.fieldNames.contains("batch") =>
      df.where(col("batch") =!= lit(id))
    case _ => df
  }

  /** Exact-verify index candidates: (batch_id, corpus_id, jaccard >=
    * threshold) from the batch shingle table and the (pruned) corpus
    * shingle read.
    */
  private def verifyAgainstIndex(cand: DataFrame, sh: DataFrame,
      corpusSh: DataFrame, threshold: Double): DataFrame = {
    // batch-side fetch: size-gated broadcast (the fuzzyJoin lesson —
    // a "batch" is small by convention, not by contract). The CORPUS
    // side gets the same gate (r15): it is the partition-pruned
    // shingles read, so its estimate is the pruned file bytes (free);
    // when the candidates touch few prefixes, broadcasting it removes
    // the last two exchanges of the probe and the whole verify
    // pipelines over the cached candidate table. A wide-match batch
    // (many touched prefixes) fails the gate and keeps the shuffled
    // equi-join on the 8-byte id — bounded at any scale.
    val hintBatch = shingleBroadcastFits(sh)
    def batchSide(d: DataFrame) = if (hintBatch) broadcast(d) else d
    val hintCorpus = shingleBroadcastFits(corpusSh)
    def corpusSide(d: DataFrame) = if (hintCorpus) broadcast(d) else d
    cand
      .join(batchSide(sh.select(col("doc_id").as("batch_id"),
        col("shs").as("sha"))), "batch_id")
      .join(corpusSide(corpusSh.select(col("doc_id").as("corpus_id"),
        col("shs").as("shb"))), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        org.apache.spark.sql.graftx.RoundAwayFromZero
          .column(jaccardCol(col("sha"), col("shb")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over distinct token hashes: bit j is the sign of
    * the summed (+1/-1) votes from each distinct token's hash bit j.
    * Native one-pass codegen expression
    * ([[org.apache.spark.sql.graftx.TextSimHash]]) — no tokenize
    * array, no UDF serde. (History: started as a UDF because the
    * lambda-expression formulation re-evaluates the token-hash array
    * once per BIT in interpreted eval — 64x slower.)
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graftx.TextSimHash.column(col(textCol)).as("simhash"))
      .repartition(col("doc_id"))
      .where(col("simhash").isNotNull) // above the exchange: no recompute

  /** SimHash near-dup pairs: band blocking + bit_count(xor) verify.
    * The band count adapts to the radius so the pigeonhole recall
    * guarantee always holds — b bands catch every pair within Hamming
    * b-1, so maxHamming <= 3 blocks on 4 x 16-bit bands and 4..7 on
    * 8 x 8-bit bands (more candidates, the price of the wider radius).
    * Radii above 7 are rejected rather than silently under-recalled.
    */
  /** Edges a driver-side union-find takes on (4M edges ≈ 64 MB — the
    * same bounded-driver-state class as a broadcast threshold).
    */
  private val driverEdgeLimit = 4000000L

  /** Driver-side union-find over long ids whose root is the component
    * minimum — the small-graph path of [[connectedComponents]] and
    * [[survivorsAgainstIndex]].
    */
  private final class MinUnionFind {
    private val parent = scala.collection.mutable.Map.empty[Long, Long]

    // iterative find with path halving: no recursion, so a 4M-edge
    // pathological chain can't overflow the driver stack
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val gp = parent.getOrElseUpdate(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElseUpdate(x, x)
      }
      x
    }

    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    /** (node, component minimum) for every node seen. */
    def labels: Seq[(Long, Long)] =
      parent.keys.toSeq.map(k => (k, find(k)))
  }

  /** Connected components over a near-dup pair graph by min-label
    * propagation: label(v) starts as v, each round takes the min over
    * the neighborhood, stops at fixpoint. Near-dup clusters have tiny
    * diameters, so this converges in a few joins; each round is one
    * shuffle on the edge key. Returns (doc_id, component) where
    * component = min doc_id in the cluster.
    *
    * Small-graph fast path: a VERIFIED near-dup pair graph is usually
    * orders of magnitude smaller than the corpus; when the (cached)
    * edge count is under `maxDriverEdges` (default 4M edges ≈ 64 MB —
    * the same bounded-driver-state class as a broadcast threshold),
    * the components are solved with one union-find pass on the driver
    * instead of 2-3 join rounds of cluster-wide job overhead. Above
    * the bound, the distributed loop runs unchanged — semantics are
    * identical (ConnectedComponentsSpec runs both paths against the
    * same ground truth).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
      maxDriverEdges: Long = driverEdgeLimit): DataFrame = {
    val spark0 = pairs.sparkSession
    // The driver fast path is gated on INTEGRAL, same-typed id columns:
    // the long cast is lossless there and the output is cast back, so
    // the API stays type-generic. String/decimal ids (where the cast
    // would null out) always take the distributed loop.
    val idType = {
      import org.apache.spark.sql.types._
      val (ta, tb) = (pairs.schema("ida").dataType, pairs.schema("idb").dataType)
      val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
      if (ta == tb && integral(ta)) Some(ta) else None
    }
    if (idType.isDefined && maxDriverEdges > 0) {
      val raw = pairs
        .select(col("ida").cast("long").as("u"), col("idb").cast("long").as("v"))
        .where(col("u").isNotNull && col("v").isNotNull)
        .persist()
      val nEdges = raw.count()
      if (nEdges <= maxDriverEdges) {
        import spark0.implicits._
        val uf = new MinUnionFind
        raw.collect().foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        raw.unpersist()
        val labels = uf.labels.sorted
        return labels.toDF("doc_id", "component")
          .select(col("doc_id").cast(idType.get).as("doc_id"),
            col("component").cast(idType.get).as("component"))
      }
      raw.unpersist()
    }
    connectedComponentsDistributed(pairs, maxIter)
  }

  /** The distributed min-label propagation loop (see
    * [[connectedComponents]] for when it runs).
    */
  def connectedComponentsDistributed(pairs: DataFrame,
      maxIter: Int = 10): DataFrame = {
    // Edges are cached PRE-PARTITIONED on the probe key (dst): every
    // round's edge⋈label join then reads the cached layout with no
    // per-round reshuffle of the (much larger) edge side.
    val edges = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .unionByName(pairs.select(col("idb").as("src"), col("ida").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist()
    // initialization folds in round 1: from identity labels the first
    // round computes exactly min(self, min(neighbors)), which is one
    // groupBy over the edge table — so start there and save a full
    // join+agg round
    var labels = edges.groupBy("dst")
      .agg(min("src").as("_nbr_min"))
      .select(col("dst").as("doc_id"),
        least(col("dst"), col("_nbr_min")).as("component"))
      .persist()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("component").as("nbr_min"))
      // The convergence check rides along as a _chg flag on the SAME
      // materialization: one tiny agg over the cached round output
      // replaces the old second join+count job per round.
      // localCheckpoint, not persist: beyond the cache it TRUNCATES
      // LINEAGE, so a high-diameter graph (many rounds) never
      // accumulates a nested-join plan tree (plan size/planning time
      // stay flat per round — without this ~10+ rounds OOM the driver
      // just STRINGIFYING the plan).
      val next = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component"))
            .cast("long").as("_chg"))
        .localCheckpoint(true)
      changed = next.agg(coalesce(sum("_chg"), lit(0L)))
        .collect()(0).getLong(0)
      labels.unpersist()
      labels = next.drop("_chg")
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Connected components in O(log diameter) rounds: each iteration
    * runs one neighbor-min propagation (as in `connectedComponents`)
    * followed by one pointer-jumping step — every node re-reads the
    * label OF its current label (`L(v) := L(L(v))`), halving pointer-
    * chain depth per round (Shiloach-Vishkin / Kiveris et al.
    * "Connected components in MapReduce"-style doubling).
    *
    * Near-dup clusters have tiny diameters, so the plain propagation
    * is the right default (fewer shuffles per round); this variant is
    * for adversarial topologies — citation/link graphs, transitive
    * similarity chains — where a diameter-d path would otherwise cost
    * d shuffle rounds at 100 TB. A 64-hop chain converges here in ~7
    * rounds vs 63.
    */
  def connectedComponentsPointerJump(pairs: DataFrame,
      maxIter: Int = 16): DataFrame = {
    val edges = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .unionByName(pairs.select(col("idb").as("src"), col("ida").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist()
    var labels = edges.groupBy("dst")
      .agg(min("src").as("_nbr_min"))
      .select(col("dst").as("doc_id"),
        least(col("dst"), col("_nbr_min")).as("component"))
      .persist()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("component").as("nbr_min"))
      val propagated = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // pointer jump: follow the label's own label. Every label value
      // is some node's id and every node (post-symmetrization) appears
      // as a dst, so the lookup is total; left join guards regardless.
      val parents = propagated
        .select(col("doc_id").as("_pid"), col("component").as("_pcomp"))
      val next = propagated
        .join(parents, propagated("component") === parents("_pid"), "left")
        .select(propagated("doc_id"),
          least(propagated("component"),
            coalesce(col("_pcomp"), propagated("component")))
            .as("component"))
        // localCheckpoint TRUNCATES LINEAGE, not just caches: after
        // O(log d) rounds the accumulated plan would otherwise be
        // exponentially nested join trees (planning time + driver
        // stack both blow up — the plain 2-3-round propagation never
        // hits this). Swap for checkpoint() on a reliable dir when
        // executor loss matters mid-computation.
        .localCheckpoint(true)
      // convergence = no label shrank across the whole round (labels
      // are monotone non-increasing, so equality means fixpoint)
      val delta = next
        .join(labels.withColumnRenamed("component", "_old"), "doc_id")
        .where(col("component") < col("_old"))
        .count()
      changed = delta
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Connected components by alternating large-star / small-star
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — Alternating algorithm): each round rewires
    * every node's strictly-larger neighbors to its neighborhood min
    * (large-star), then folds each node's smaller neighbors onto that
    * min (small-star). Converges to star graphs rooted at component
    * minima in O(log² n) rounds with edge-linear work per round.
    *
    * Unlike label propagation, NO per-node label table is carried —
    * the edge set itself contracts, so hot components shrink the
    * working set every round instead of re-joining the full label
    * table. The round primitive is groupBy(node).min + equi-join, both
    * shuffle-bounded; per-round `localCheckpoint` truncates lineage
    * exactly like the pointer-jump variant.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20)
      : DataFrame = {
    import org.apache.spark.sql.DataFrame
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(u, min neighbor) over the symmetrized edge set
    def withMin(symE: DataFrame): DataFrame =
      symE.join(
        symE.groupBy("u").agg(min("v").as("_nm"))
          .select(col("u"), least(col("u"), col("_nm")).as("_m")),
        Seq("u"))

    def largeStar(e: DataFrame): DataFrame =
      withMin(sym(e))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge large→small, then fold small neighbors +
      // the center onto the neighborhood min
      val dir = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min("v").as("_m"))
      dir.join(m, Seq("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .unionByName(m.select(col("u"), col("_m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs
      .select(col("ida").as("u"), col("idb").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    var sig = (-1L, -1L)
    while (!converged && iter < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      // fixpoint signature: (edge count, order-independent XOR of edge
      // hashes — wrap-free under ANSI, set-equality up to hash
      // collisions; maxIter bounds the loop regardless) — one tiny agg
      // over the already-materialized round output
      val row = edges.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).collect()(0)
      val next = (row.getLong(0), row.getLong(1))
      converged = next == sig
      sig = next
      iter += 1
    }
    edges.select(col("u").as("doc_id"), col("v").as("component"))
      .unionByName(
        edges.select(col("v").as("doc_id"), col("v").as("component"))
          .distinct())
  }

  /** Deduplicated corpus: drop every near-dup cluster member except the
    * min-id representative. `pairs` is any verified near-dup pair table
    * (ida, idb) — at corpus scale MinHash-LSH pairs are the intended
    * input (computed once, reused for clustering).
    */
  def survivorsFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    // NO broadcast hint: losers is every non-representative near-dup —
    // routinely a double-digit share of the corpus, so it is NOT small.
    // A shuffled left_anti on the 8-byte id column is cheap; AQE may
    // still broadcast when the cluster count happens to be tiny.
    docs.join(losers, Seq(idCol), "left_anti")
  }

  def survivors(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    survivorsFromPairs(docs, idCol,
      minhashLshPairs(docs, idCol, textCol, threshold))

  /** Incremental keeper election for a batch probed against persisted
    * history: `batchPairs` are within-batch near-dup edges, `idxPairs`
    * (batch_id, corpus_id) matches from [[dedupAgainstIndex]]. Both
    * edge sets feed ONE component pass (so transitive chains through
    * in-batch drops still bridge to history), but components ANCHORED
    * to a corpus doc drop ALL their batch members instead of
    * min-id-electing — the indexed doc was already emitted as a
    * survivor and cannot be retracted, so electing a smaller-id batch
    * doc (possible only under out-of-order ingest) would emit both
    * sides of a near-dup pair. Under id-ordered ingest the anchor is
    * the component minimum, so this IS the batch run's min-id
    * election; in any order, no near-dup pair survives (spec-pinned
    * on scrambled shards). The streaming corpus funnel's near-dedup
    * stage is exactly this call.
    *
    * `maxEdges`: an upper bound on the edge count that the caller
    * already knows (the funnel: n(n-1)/2 in-batch pairs for n exact
    * survivors, plus the observed index-match count), -1 = unknown.
    * Within [[driverEdgeLimit]] (integral ids) the election runs on the
    * driver ([[survivorsOnDriver]]); otherwise through
    * [[connectedComponents]] as before.
    */
  def survivorsAgainstIndex(docs: DataFrame, idCol: String,
      batchPairs: DataFrame, idxPairs: DataFrame,
      maxEdges: Long = -1L): DataFrame = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val integralIds = integral(docs.schema(idCol).dataType) &&
      Seq(batchPairs, idxPairs).forall(p => Seq("ida", "idb")
        .forall(c => integral(p.schema(c).dataType)))
    if (maxEdges >= 0L && maxEdges <= driverEdgeLimit && integralIds)
      return survivorsOnDriver(docs, idCol, batchPairs, idxPairs)
    // persist: three consumers (both loser branches + the anchor
    // join); free for the driver union-find's literal output, and
    // prevents a triple label-propagation run if a huge batch takes
    // the distributed path. Callers with batch-scoped block cleanup
    // (the funnel) reclaim it; ad-hoc callers leak a bounded
    // components-sized block, same as the probe's checkpoints.
    val comps = connectedComponents(
      batchPairs.select(col("ida"), col("idb"))
        .unionByName(idxPairs.select(col("ida"), col("idb"))))
      .persist()
    val anchored = comps
      .join(idxPairs.select(col("idb").as("doc_id")).distinct(), "doc_id")
      .select("component").distinct()
    val losers = comps.where(col("doc_id") =!= col("component"))
      .select("doc_id")
      .unionByName(comps.join(anchored, "component").select("doc_id"))
      .distinct()
      .withColumnRenamed("doc_id", idCol)
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[survivorsAgainstIndex]] for a graph the caller has bounded under
    * [[driverEdgeLimit]]: the edges, tagged with their side, arrive in
    * ONE collect (no persist, no count — the bound replaces both), the
    * union-find, the anchors and the losers are driver work, and the
    * losers leave `docs` in one anti-join against a local relation.
    * Same election as the distributed path: every non-minimum member
    * of a component loses, and so does every batch member of a
    * component that holds an index doc.
    */
  private def survivorsOnDriver(docs: DataFrame, idCol: String,
      batchPairs: DataFrame, idxPairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def tagged(p: DataFrame, fromIndex: Boolean) = p.select(
      col("ida").cast("long").as("u"), col("idb").cast("long").as("v"),
      lit(fromIndex).as("idx"))
    val edges = tagged(batchPairs, fromIndex = false)
      .unionByName(tagged(idxPairs, fromIndex = true))
      .where(col("u").isNotNull && col("v").isNotNull)
      .collect()
    val uf = new MinUnionFind
    edges.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
    // idx edges are (batch doc, index doc): the index side anchors
    val anchored = edges.iterator.filter(_.getBoolean(2))
      .map(r => uf.find(r.getLong(1))).toSet
    val losers = uf.labels.collect {
      case (id, root) if id != root || anchored(root) => id
    }.sorted
    docs.join(
      losers.toDF("_l").select(
        col("_l").cast(docs.schema(idCol).dataType).as(idCol)),
      Seq(idCol), "left_anti")
  }

  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7] (got $maxHamming): banded blocking " +
        "guarantees recall only up to bands-1 differing bits")
    val bands = if (maxHamming <= 3) 4 else 8
    val width = 64 / bands
    val mask = (1L << width) - 1
    val sig = simhash(docs, idCol, textCol)
    val bandKeys = sig.select(
      col("doc_id"), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> shiftright(simhash, b * $width) & $mask)")))
      .toDF("doc_id", "simhash", "band", "bval")
    val cand = bandKeys.as("a").join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
    cand.where(col("hamming") <= maxHamming)
  }
}
