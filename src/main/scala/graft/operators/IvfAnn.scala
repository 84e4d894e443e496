package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to hyperplane LSH (Similarity.annLshTopK).
  *
  * Standard IVF shape: centroids are trained on a SAMPLE collected to
  * the driver (k * dim floats — tiny), then shipped back as literals;
  * every corpus vector is assigned to its nearest centroid in one
  * distributed pass; a query probes only the `nprobe` nearest centroid
  * lists, so the exact-rerank join touches ~nprobe/k of the corpus.
  * Deterministic end to end: seeded sampling by vec_id, fixed Lloyd
  * iterations, ties broken by index.
  */
object IvfAnn {

  /** Lloyd's k-means on a driver-side sample (deterministic).
    * `sampleMod <= 0` derives the modulus from the corpus row count so
    * the driver-side sample stays ~k*100 rows no matter the corpus size
    * (collecting the full embedding column would OOM the driver long
    * before 100 TB).
    *
    * Sample selection HASHES the id before the modulus: `vec_id % mod`
    * confounds the sample with however ids were assigned — on the
    * 100x rehearsal corpus (ids = base + range*1e7) it selected the
    * SAME 5 base vectors from every range, so 256 centroids trained on
    * 5 effective points, lists skewed ~4x fat, and the kNN join paid
    * 320M candidate pairs where balanced lists cost ~80M (TIMEONE.md,
    * round 9).
    * `splitmix64(vec_id) % mod` is id-structure-independent, equally
    * deterministic, and — unlike Spark's builtin murmur hash — exactly
    * replayable by the DuckDB oracle, which makes the whole training
    * loop SQL-checkable. Seeding is farthest-point (deterministic
    * k-means++ flavor: ties to the lowest sample index) rather than
    * "first k collected" — first-k inherits whatever locality the
    * sample order had, farthest-point spreads seeds across the actual
    * clusters, and its O(k*sample*dim) driver cost is noise next to
    * one Lloyd pass. The sample is collected ordered by vec_id so
    * training is layout-independent, not partition-order-dependent.
    */
  def trainCentroids(corpus: DataFrame, k: Int, sampleMod: Int = 0,
      iters: Int = 5): Array[Array[Double]] = {
    val mod =
      if (sampleMod > 0) sampleMod
      else {
        val n = corpus.count()
        math.min(Int.MaxValue.toLong, math.max(1L, n / (k * 100L))).toInt
      }
    val sample = corpus
      .where(pmod(
        org.apache.spark.sql.graftx.SplitMix64.column(col("vec_id")),
        lit(mod.toLong)) === 0)
      .select("vec_id", "embedding")
      .orderBy("vec_id")
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    var centroids = farthestPointSeeds(sample, k)
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Deterministic farthest-point seeding: seed 0 is the first sample
    * (lowest vec_id), each next seed the sample farthest from its
    * nearest already-chosen seed, ties to the lowest index.
    */
  private def farthestPointSeeds(sample: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    val seeds = new Array[Array[Double]](k)
    seeds(0) = sample(0).clone()
    val minD = Array.fill(sample.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val prev = seeds(c - 1)
      var best = 0
      var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        var d = 0.0
        var j = 0
        while (j < v.length) { val x = v(j) - prev(j); d += x * x; j += 1 }
        if (d < minD(i)) minD(i) = d
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      seeds(c) = sample(best).clone()
      c += 1
    }
    seeds
  }

  private def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      val cv = cs(c)
      while (i < v.length) { val x = v(i) - cv(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def assignUdf(cs: Array[Array[Double]]) = udf { v: Array[Float] =>
    nearest(v.map(_.toDouble), cs)
  }

  private[graft] def assignColumn(cs: Array[Array[Double]]) = assignUdf(cs)
  private[graft] def probeColumn(cs: Array[Array[Double]], nprobe: Int) =
    probeUdf(cs, nprobe)

  /** Ranks of the nprobe nearest centroids for a query vector. */
  private def probeUdf(cs: Array[Array[Double]], nprobe: Int) =
    udf { v: Array[Float] =>
      val vd = v.map(_.toDouble)
      cs.indices
        .map { c =>
          var d = 0.0
          var i = 0
          while (i < vd.length) { val x = vd(i) - cs(c)(i); d += x * x; i += 1 }
          (d, c)
        }
        .sorted.take(nprobe).map(_._2).toArray
    }

  /** Build and persist the IVF index: centroids (tiny parquet) plus
    * the assigned corpus written `partitionBy(list_id)` — the layout
    * that makes a probe read only its nprobe/nlist slice of a 100 TB
    * corpus via partition pruning, instead of rescanning and
    * re-assigning per query batch. Index build is the once-per-corpus
    * cost; [[queryIndex]] is the cheap repeated path.
    */
  def writeIndex(corpus0: DataFrame, dir: String, nlist: Int = 16,
      sampleMod: Int = 0): Unit = {
    val corpus = VectorOps.requireVectors(corpus0, "corpus")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cs = trainCentroids(corpus, nlist, sampleMod)
    cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    corpus.select(
        col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"),
        assignUdf(cs)(col("embedding")).as("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$dir/assigned")
  }

  /** Incremental index maintenance: assign a NEW batch of vectors to
    * the EXISTING centroids and append into the per-list partition
    * directories — no rebuild, no touch of prior files (dynamic
    * partition overwrite is wrong here: append is the correct mode for
    * additive batches, and re-runs should dedupe upstream by vec_id).
    * Centroids drift as the corpus grows; the standard operational
    * answer (same as FAISS IVF add) is periodic retrain+rewrite, which
    * is exactly [[writeIndex]] — so the pair gives the full lifecycle:
    * build once, append cheaply, retrain when recall decays.
    */
  def appendToIndex(newVecs0: DataFrame, dir: String): Unit = {
    val newVecs = VectorOps.requireVectors(newVecs0, "newVecs")
    val spark = newVecs.sparkSession
    val cs = spark.read.parquet(s"$dir/centroids")
      .orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toArray)
    newVecs.select(
        col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"),
        assignUdf(cs)(col("embedding")).as("list_id"))
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$dir/assigned")
  }

  /** Query a persisted index: probe nprobe lists per query vector and
    * exact-rerank. The probed list ids join against the `list_id`
    * PARTITION column of the assigned table, so only those partition
    * directories are read.
    */
  def queryIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries0: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val queries = VectorOps.requireVectors(queries0, "queries")
    val cs = spark.read.parquet(s"$dir/centroids")
      .orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toArray)
    val assigned = spark.read.parquet(s"$dir/assigned")
    val probed = broadcast(queries.select(
      col("vec_id").as("qid"), col("embedding").as("qemb"),
      VectorOps.norm(col("embedding")).as("qnrm"),
      explode(probeUdf(cs, nprobe)(col("embedding"))).as("list_id")))
    val sims = assigned.join(probed,
        Seq("list_id")).where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.simRound6(VectorOps.dot(col("qemb"), col("embedding")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    // native bounded-heap top-k: k rows per (partition, qid) reach the
    // exchange instead of the full candidate fan-out (same order/rank
    // semantics as the row_number window it replaced)
    org.apache.spark.sql.graftx.TopKPerKey
      .topK(sims, keys = Seq("qid"),
        order = Seq(("sim", true), ("vec_id", false)), k = k)
      .orderBy("qid", "rank")
  }

  /** Approximate kNN JOIN / kNN graph: top-k corpus neighbors for
    * EVERY vector of `queries` (often the corpus itself) — the
    * all-rows ANN join behind kNN graphs (semantic-dedup clustering,
    * label propagation, graph diversity sampling). Unlike [[ivfTopK]]
    * (queries broadcast — right when the probe set is a small lookup
    * list), BOTH sides here are unbounded: candidates come from a
    * SHUFFLE equi-join on list_id (corpus assigned once, queries
    * explode to their nprobe nearest lists, both sides co-partition on
    * the list key), and the per-query top-k is the map-side-combining
    * typed [[graft.functions.TopKAggregator]], so at most k rows per
    * (partition, query) reach the final shuffle — never a window over
    * the full candidate fan-out, never a broadcast of an unbounded
    * side. With nprobe = nlist the probe covers every list, so the
    * result equals the exact brute-force graph (IvfAnnSpec pins this);
    * smaller nprobe trades recall for touching ~nprobe/nlist of the
    * corpus per query.
    */
  def knnJoin(corpus0: DataFrame, queries0: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, sampleMod: Int = 0): DataFrame = {
    val corpus = VectorOps.requireVectors(corpus0, "corpus")
    val queries = VectorOps.requireVectors(queries0, "queries")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cs = trainCentroids(corpus, nlist, sampleMod)
    val assigned = corpus.select(
      col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"),
      assignUdf(cs)(col("embedding")).as("list_id"))
    // co-partition BOTH sides on list_id before the fan-out join: the
    // scans' partitioning reflects file size, not the candidate blow-up
    // downstream (the "small input, huge generator" case AQE can't
    // see), and the join parallelism is capped by the list count — so
    // callers should size nlist >= cluster cores (the FAISS-style
    // "thousands of lists" regime), and the explicit repartition makes
    // the join co-partitioned with no further exchange. Each task then
    // computes exactly its lists' candidate block.
    val probes = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qemb"),
      VectorOps.norm(col("embedding")).as("qnrm"),
      explode(probeUdf(cs, nprobe)(col("embedding"))).as("list_id"))
      .repartition(col("list_id"))
    val sims = assigned.repartition(col("list_id")).join(probes, Seq("list_id"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.simRound6(VectorOps.dot(col("qemb"), col("embedding")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    // per-query top-k through the native bounded-heap operator: partial
    // heaps run BELOW the exchange on InternalRows (no encoder serde —
    // measured 3.5x over the typed-aggregator formulation on the 4M-pair
    // sf0.1 graph), so k rows per (partition, query) reach the shuffle
    org.apache.spark.sql.graftx.TopKPerKey
      .topK(sims, keys = Seq("qid"),
        order = Seq(("sim", true), ("vec_id", false)), k = k)
      .orderBy("qid", "rank")
  }

  /** IVF top-k: assign corpus once, probe nprobe lists per query,
    * exact cosine rerank. Candidate join carries ids + list id only.
    */
  def ivfTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, sampleMod: Int = 0): DataFrame = {
    val corpus = VectorOps.requireVectors(corpus0, "corpus")
    val queries = VectorOps.requireVectors(queries0, "queries")
    val cs = trainCentroids(corpus, nlist, sampleMod)
    val assigned = corpus.select(
      col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"),
      assignUdf(cs)(col("embedding")).as("list_id"))
    val probed = broadcast(queries.select(
      col("vec_id").as("qid"), col("embedding").as("qemb"),
      VectorOps.norm(col("embedding")).as("qnrm"),
      explode(probeUdf(cs, nprobe)(col("embedding"))).as("list_id")))
    val sims = assigned.join(probed,
        Seq("list_id")).where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.simRound6(VectorOps.dot(col("qemb"), col("embedding")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    // native bounded-heap top-k: k rows per (partition, qid) reach the
    // exchange instead of the full candidate fan-out (same order/rank
    // semantics as the row_number window it replaced)
    org.apache.spark.sql.graftx.TopKPerKey
      .topK(sims, keys = Seq("qid"),
        order = Seq(("sim", true), ("vec_id", false)), k = k)
      .orderBy("qid", "rank")
  }
}
