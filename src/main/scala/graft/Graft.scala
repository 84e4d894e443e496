package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftExtensions

/** Library entry point: one call gives a session wired the way every
  * operator in this engine expects — the graftx extensions (native
  * top-k-per-key strategy + the optimizer rewrite that captures
  * `Filter(row_number() <= k)` windows), UTC session time (oracle and
  * cross-engine determinism), and shuffle parallelism sized to the
  * deployment instead of the 200-partition default.
  *
  * {{{
  * val spark = Graft.session(master = "local[32]", shufflePartitions = 32)
  * val docs  = Tables(spark, "/data/sf1", "documents")
  * val clean = graft.pipeline.CorpusPipeline.prepare(docs)
  * }}}
  *
  * On a cluster, pass no master (spark-submit provides it) and size
  * `shufflePartitions` to ~2-3x total executor cores; at 100 TB rely
  * on AQE coalescing (left enabled) to right-size each stage.
  *
  * Generated-code cache: Spark keeps the classes it compiles for
  * whole-stage and expression codegen in one JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` classes, 100 by default. The
  * engine's working set is larger: a perfbench funnel_ingest run (a
  * warm-up batch and probe, then two micro-batches, BM25 probes and a
  * maintenance cycle) generates ~205 distinct classes and a query_mix
  * run 174, so at 100 entries every warmed ingest round evicted and
  * recompiled ~300 classes with Janino; at [[codegenCacheEntries]] it
  * compiles ~2 (4-core host, counted from the CodeGenerator log). The
  * retained classes cost ~2 MB of heap. The key is a STATIC conf: it only
  * takes effect when this call creates the JVM's first session — a
  * session or context that already exists keeps its own value.
  */
object Graft {

  /** Generated classes Spark's codegen cache holds (see above). */
  private val codegenCacheEntries = 512

  def session(master: String = "", appName: String = "graft",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
    (if (master.nonEmpty) b.master(master) else b).getOrCreate()
  }
}
