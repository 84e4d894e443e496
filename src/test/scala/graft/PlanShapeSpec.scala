package graft

import PlanShape.Shape

/** Executed-plan-shape pins for the five most expensive registered
  * queries (bench_full_r7 top-5). The registry-wide guards
  * (QuerySmokeSpec) ban cartesians and partition-less windows, but a
  * subtler strategy regression — a re-introduced corpus-side
  * broadcast in the dedup verify, a join that degrades to an extra
  * exchange, a lost exchange reuse — would surface only as bench
  * noise inside the ±30% host band. These pins fail the build on any
  * such drift: the expected shapes are the plans audited scale-safe
  * in VERDICT r7 / docs/SCALING.md.
  *
  * The pins are SF-specific (AQE picks strategies from runtime sizes,
  * so the committed sf0.001 inputs make them deterministic); a pin
  * failure after an intentional strategy change is expected. Re-pin
  * from the failure message, which prints the executed shape
  * (`executed Shape(...)`) from this suite's own local[4] + graftx
  * session: re-read that plan (`runMain graft.tools.Explain <name>`
  * with `SPARK_GRAFT_SF_DIR` set to the pinned sf), confirm it is
  * still the plan you'd want at 100 TB, and copy the printed shape
  * into `pins`.
  */
class PlanShapeSpec extends SparkSpec {

  // expected shapes at sf0.001 (see scaladoc for the re-pin protocol)
  private val pins = Map(
    // reads the ONE shared checkpointed cascade: every exchange of the
    // shingle/verify pipeline is paid inside the memo build, so the
    // audit itself must stay exchange-free — a shuffle appearing here
    // means the cascade stopped being shared/checkpointed
    "dedup_blocking_audit" -> Shape(0, 0, 0, 0, 0, 0, 0),
    // shuffle-partitioned IVF join: assignment + candidate join +
    // top-k shuffles, ONE broadcast (the k-means centroid table —
    // k-sized, never a corpus side)
    "sim_knn_graph" -> Shape(4, 1, 0, 0, 1, 0, 0),
    // landmark equi-join + offset-histogram vote; the broadcasts are
    // the df-cap hot-hash filter and the vote floor (both bounded
    // aggregates), one exchange reused across the self-join sides
    "multimodal_audio_match" -> Shape(6, 2, 1, 0, 2, 0, 0),
    // shared trigram base + hash aggs. Round-14 re-audit: exactNtile
    // now folds the bucket total/offsets into driver literals from its
    // ONE bounded bucket-table collect, so the former 1-row normalizer
    // bnlj broadcast AND its checkpoint shuffle are gone — one fewer
    // exchange and broadcast at any scale (the collected table stays
    // corpus/bucketWidth-bounded, same budget as before).
    "text_perplexity_buckets" -> Shape(3, 1, 0, 0, 1, 0, 0),
    // round-10 rewrite: row-local phrase segmentation (no token
    // window), so the plan is two hash aggs off the checkpointed
    // phrase-word table + one AQE-broadcast word-stats join +
    // TakeOrdered — re-audited scale-safe (no corpus-wide sort
    // anywhere; at 100 TB the word-stats side outgrows broadcast and
    // AQE falls back to the shuffled join on the 2 existing exchanges)
    "text_rake_topk" -> Shape(2, 1, 0, 0, 1, 0, 0))

  pins.foreach { case (name, expected) =>
    test(s"$name keeps its audited executed-plan shape") {
      val actual = PlanShape.of(SparkEntry.queries(name)(spark, sfDir))
      assert(actual == expected,
        s"$name strategy drift: executed $actual, pinned $expected — " +
          "if intentional, re-audit for 100 TB safety and re-pin")
    }
  }

  // round 9: every ANN rerank runs the native bounded-heap TopKPerKey
  // (partial heaps below the exchange), never a row_number window that
  // drags the full candidate fan-out through one sort per query
  // partition. A regression to WindowExec would be invisible to the
  // Shape counters (same exchange count) and show only as bench noise.
  // round 10 adds the last two stragglers (emb_knn_classify's k-nearest
  // cut + vote pick, sim_ann_sq_topk's candidate cut + exact rerank) —
  // the whole ANN family is now window-free
  Seq("sim_cosine_topk", "sim_knn_graph", "sim_ann_ivf_topk",
    "sim_ann_pq_topk", "sim_hard_negatives", "emb_knn_classify",
    "sim_ann_sq_topk").foreach { name =>
    test(s"$name ranks through TopKPerKey, not a window sort") {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val nodes = PlanShape.flat(df.queryExecution.executedPlan)
      assert(nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.graftx.TopKPerKeyFinalExec]),
        s"$name lost its bounded-heap top-k")
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        s"$name re-grew a window sort over the candidate fan-out")
    }
  }

  // round 13: the tfidf vocabulary broadcast is GATED on the size
  // estimate (a 100 TB web corpus's vocabulary can exceed executor
  // memory). Under a starved budget the word join must fall back to a
  // shuffled join — only the 1-row corpus-count broadcast survives.
  test("text_tfidf_top sheds the vocabulary broadcast under budget") {
    def bhjJoins(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      PlanShape.flat(df.queryExecution.executedPlan).count(
        _.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    }
    val withBudget = bhjJoins(SparkEntry.queries("text_tfidf_top")(
      spark, sfDir))
    assert(withBudget >= 1, "default budget should broadcast the df table")
    spark.conf.set("spark.graft.dedup.broadcastBudget", "1")
    // the explicit-hint fallback only; AQE may still pick a broadcast
    // from RUNTIME sizes at sf0.001, so pin the logical hint instead
    try {
      val df = SparkEntry.queries("text_tfidf_top")(spark, sfDir)
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
      // exactly one hinted broadcast remains: the 1-row corpus count
      assert(hinted.size == 1,
        s"expected only the corpus-count broadcast hint, got " +
          s"${hinted.size}")
      // and results are identical either way
      val starved = df.collect().map(_.toString).toSeq
      spark.conf.unset("spark.graft.dedup.broadcastBudget")
      val normal = SparkEntry.queries("text_tfidf_top")(spark, sfDir)
        .collect().map(_.toString).toSeq
      assert(starved == normal, "the join strategy changed results")
    } finally spark.conf.unset("spark.graft.dedup.broadcastBudget")
  }
}
