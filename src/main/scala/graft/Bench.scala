package graft

/** Driver-run benchmark: times every registered query at the target
  * scale factor, one JSON line on stdout (driver contract).
  *
  * A warmup pass at sf0.001 runs first, untimed: it triggers JVM/JIT +
  * whole-stage-codegen compilation and parquet footer caching so the
  * first timed query measures the query, not cold-start (measured ~6s
  * of warmup otherwise attributed to whichever query ran first).
  *
  * Each query is then timed over THREE round-robin passes and reported
  * at the per-query MEDIAN (round-8 change): single-shot totals rode a
  * ±30% host-variance band (TIMEONE.md) that made cross-round BENCH
  * deltas unreadable without hand-run comparators. Round-robin (pass
  * over all queries, repeat) rather than back-to-back 3x decorrelates
  * a transient host stall from any single query's three samples; the
  * median then drops one bad sample per query entirely. `value` is the
  * sum of medians, `value_min` the sum of per-query minima (the
  * low-noise floor), `passes` says how many rounds contributed.
  *
  * A query that throws in any pass is FAILED: it is left out of
  * `value`, `value_min` and the per-query detail (the time to a failure
  * is not a sample of the query), and counted in `n_failed`;
  * `n_queries` still counts every query timed.
  */
object Bench {

  /** One timed run: per-query medians and minima of the queries that
    * succeeded in every pass, plus the names of those that failed.
    */
  final case class Result(medians: Seq[(String, Double)],
      mins: Map[String, Double], failed: Seq[String]) {
    def nQueries: Int = medians.size + failed.size
    def total: Double = medians.map(_._2).sum
    def totalMin: Double = medians.map(r => mins(r._1)).sum
  }

  /** Time `named` over `passes` round-robin passes (seconds). */
  def measure(named: Seq[(String, () => Unit)], passes: Int): Result = {
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    (1 to passes).foreach { _ =>
      named.foreach { case (name, run) =>
        val t0 = System.nanoTime()
        try {
          run()
          val dt = (System.nanoTime() - t0) / 1e9
          samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        } catch { case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
    }
    def median(v: Vector[Double]): Double = v.sorted.apply(v.size / 2)
    val ok = named.map(_._1).filterNot(failed)
    Result(ok.map(n => n -> median(samples(n))),
      ok.map(n => n -> samples(n).min).toMap, failed.toSeq)
  }

  // Only the LAST 2000 chars of output are kept by the bench's
  // consumer, so the JSON line must stay well under that to parse:
  // per-query detail is limited to a fixed headline subset (one per
  // major category, stable round over round) at 3-decimal precision;
  // "value" is still the total across all succeeded queries and
  // n_queries says how many ran.
  private val headline = Set(
    "agg_pricing_summary", "join_star_revenue", "window_top_orders",
    "sort_top_orders", "dedup_exact_md5", "dedup_shingle_jaccard",
    "dedup_minhash_lsh", "dedup_components", "dedup_survivors",
    "sim_cosine_topk", "sim_ann_ivf_topk", "sim_ann_pq_topk",
    "text_tfidf_top", "text_langid", "text_gopher_quality",
    "events_sessionize", "events_asof_join", "pipeline_corpus_funnel",
    "pipeline_token_budget", "pipeline_pack_sequences",
    "multimodal_dhash_pairs", "zorder_cluster", "window_topk_rewrite",
    "sql_recursive_cte",
    // round-6 additions (one per new family)
    "graph_label_prop", "dedup_containment", "sim_matryoshka_recall",
    "join_jaro_names",
    // round-7 additions: the FFT-accelerated audio match and one
    // trainer readout (the round's oracle-conversion + perf focus)
    "multimodal_audio_match", "text_bpe_vocab")

  private def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.US, v)

  /** The JSON line for `r` that `main` prints last on stdout. */
  def jsonLine(r: Result, passes: Int, sfDir: String): String = {
    val qs = r.medians.filter(m => headline(m._1))
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(r.total)},"unit":"sec","stat":"median","passes":$passes,"value_min":${r3(r.totalMin)},"n_queries":${r.nQueries},"n_failed":${r.failed.size},"queries":$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // the level must be set before the context starts: set after,
    // Spark's start-up INFO lines bury the failure lines on stderr
    sys.props.getOrElseUpdate("spark.log.level", "WARN")
    // same session wiring as Verify: graftx extensions on by default
    // so benched plans are the plans a library user gets
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus)
    val warmupDir = "/root/testdata/sf0.001"
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    named.foreach { case (_, fn) =>
      try fn(spark, warmupDir).count()
      catch { case _: Throwable => () }
    }
    val runs = named.map { case (name, fn) =>
      name -> (() => { fn(spark, sfDir).count(); () })
    }
    val result = measure(runs, passes)
    // local iteration aid: full per-query dump to a file, never stdout
    // (the driver-facing JSON line must stay the LAST thing printed)
    sys.env.get("SPARK_GRAFT_BENCH_FULL").foreach { path =>
      val full = result.medians.sortBy(-_._2)
        .map { case (k, v) =>
          "\"" + k + "\":{\"med\":" + r3(v) + ",\"min\":" +
            r3(result.mins(k)) + "}" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        full.getBytes("UTF-8"))
    }
    println(jsonLine(result, passes, sfDir))
    spark.stop()
  }
}
