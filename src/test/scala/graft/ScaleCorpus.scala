package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The scale-rehearsal corpora: the 10x `docs10` fixture
  * (`ScaleRehearsalSpec`) and the 100x (sf1-equivalent) corpora behind
  * `Scale100Spec` (TIMEONE.md / docs/SCALING.md record the numbers).
  *
  * Corpus construction (the honest scaling fixture): 10 disjoint
  * SHARDS of the 10x docs10 corpus, each shard's every token prefixed
  * with its shard tag so shards share NO shingles — near-dup density
  * stays constant (10-replica groups) while the corpus grows 100x.
  * Naively replicating 100x instead would grow each near-dup group to
  * 100 members and the pair graph quadratically — a fixture artifact,
  * not an operator property.
  */
object ScaleCorpus {

  /** The harness tables the rehearsal specs build their corpora from. */
  val sf001 = "/root/testdata/sf0.01"

  /** 10x the given corpus: 10 perturbed replicas with disjoint ids. */
  def docs10(spark: SparkSession, base: String = sf001) = {
    val b = Tables(spark, base, "documents").select("doc_id", "text")
    (0 until 10).map { r =>
      b.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _)
  }

  def docs100(spark: SparkSession, base: String = sf001) =
    (0 until 10).map { s =>
      // letters-only shard tag: the shingle tokenizer is [a-zA-Z]
      // runs, so a digit in the tag would split off and collapse all
      // shards onto the same tokens
      val tag = s"q${('a' + s).toChar}"
      docs10(spark, base)
        .select((col("doc_id") + lit(s * 1000000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$tag$$1").as("text"))
    }.reduce(_ unionByName _).localCheckpoint(true)

  /** docs10 carrying lang/source — the columns the corpus pipeline's
    * language filter and per-source stages read.
    */
  def docs10Meta(spark: SparkSession, base: String) = {
    val b = Tables(spark, base, "documents")
      .select("doc_id", "text", "lang", "source")
    (0 until 10).map { r =>
      b.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)
  }

  /** One tagged shard of the 100x pipeline corpus (shard s of
    * [[docs100Meta]]) — shard 0 is the 10x baseline the linearity
    * invariants compare against.
    */
  def pipelineShard(spark: SparkSession, base: String, s: Int) = {
    val tag = s"q${('a' + s).toChar}"
    docs10Meta(spark, base)
      .select((col("doc_id") + lit(s * 1000000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$tag$$1").as("text"),
        col("lang"), col("source"))
  }

  /** The 100x corpus WITH metadata: same 10-disjoint-shard
    * construction as [[docs100]] (near-dup density constant, shards
    * share no shingles), plus lang/source so the full corpus pipeline
    * (language filter -> quality -> dedup -> pack) can run over it.
    * Note the shard tag prefixes every token, so the stopword leg of
    * the quality filter is uniformly inert across shards — the
    * pipeline rehearsal measures COST and linearity, not stopword
    * selectivity (which sf-table queries already oracle-check).
    */
  def docs100Meta(spark: SparkSession, base: String = sf001) =
    (0 until 10).map(pipelineShard(spark, base, _))
      .reduce(_ unionByName _).localCheckpoint(true)
}
