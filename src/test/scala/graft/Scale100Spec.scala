package graft

import org.apache.spark.sql.functions._

/** 100x (sf1-equivalent) rehearsal for the two heaviest operator
  * families — shingle dedup cascade and audio fingerprint match (r6
  * verdict task 5: 10x was the ceiling, and the r5 audio cliff only
  * appeared AT 10x, so the next decade matters).
  *
  * Corpus: [[ScaleCorpus.docs100]] — 10 disjoint token-renamed
  * SHARDS of the 10x docs10 fixture (50 000 docs). Near-dup density
  * stays constant (10-replica groups); a naive 100x replication would
  * instead grow every near-dup group to 100 members and the pair graph
  * quadratically — a fixture artifact, not an operator property. The
  * shard construction also gives an exact cross-scale invariant: token
  * renaming is a shingle-hash bijection per shard, so the 100x pair
  * COUNT must be exactly 10x the docs10 pair count.
  *
  * Measured (local[32], 2026-08-14): graph build 9.0 s,
  * shuffled verify 0.2 s, containment 1.7 s, audio 50k 65 s with 50/50
  * planted twins. Bounds below are ~3x those numbers to absorb host
  * drift (TIMEONE.md documents 2-3x between windows).
  */
class Scale100Spec extends SparkSpec {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("shingle cascade at 100x: linear pairs, broadcast-off, bounded") {
    val d100 = ScaleCorpus.docs100(spark)
    assert(d100.count() == 50000L)
    // the scale plan end to end: blocking + minShared cut + SHUFFLED
    // verify (Some(false) — at a real sf1 the size gate would refuse
    // the broadcast, so that is the plan this decade must bound)
    val (nPairs, t) = timed {
      graft.operators.Dedup.jaccardPairs(d100, "doc_id", "text",
        threshold = 0.2, dfCap = 50, minShared = 2,
        verifyBroadcast = Some(false)).count()
    }
    info(f"100x cascade: $nPairs pairs in $t%.1fs (shuffled verify)")
    assert(t < 120.0, f"100x cascade took $t%.1fs — superlinear blowup?")
    // exact cross-scale invariant: 10 token-renamed shards == 10x the
    // docs10 pair count; anything else means blocking recall drifted
    // with corpus size
    val docs10Pairs = graft.operators.Dedup.jaccardPairs(
      ScaleCorpus.docs10(spark),
      "doc_id", "text", threshold = 0.2, dfCap = 50, minShared = 2,
      verifyBroadcast = Some(false)).count()
    assert(nPairs == docs10Pairs * 10,
      s"100x pairs $nPairs != 10 * docs10 pairs $docs10Pairs")
  }

  test("minhash-LSH banded blocking at 100x: bounded, recall vs exact holds") {
    // the OTHER dedup scale path: the cascade test above rehearses the
    // inverted-index blocking; this one rehearses the banded-signature
    // path that survivors/pipeline_corpus_funnel actually run. The
    // 10x-shard pair-count invariant does NOT transfer here — token
    // renaming is a shingle-hash bijection, and LSH candidates depend
    // on the hash VALUES through the permutation mins — so the
    // invariant is the one the operator owns: recall against the exact
    // >= 0.5 pair graph, plus bounded wall-clock on the shuffled-verify
    // plan.
    val d100 = ScaleCorpus.docs100(spark)
    val (lsh, t) = timed {
      graft.operators.Dedup.minhashLshPairs(d100, "doc_id", "text",
          threshold = 0.5, verifyBroadcast = Some(false))
        .select("ida", "idb").localCheckpoint(true)
    }
    val nLsh = lsh.count()
    info(f"100x minhash-LSH: $nLsh pairs in $t%.1fs (shuffled verify)")
    assert(t < 180.0, f"100x LSH took $t%.1fs — superlinear blowup?")
    val exact = graft.operators.Dedup.jaccardPairs(d100, "doc_id", "text",
        threshold = 0.5, dfCap = 50, minShared = 2,
        verifyBroadcast = Some(false))
      .select("ida", "idb").localCheckpoint(true)
    val nExact = exact.count()
    val nCommon = exact.intersect(lsh).count()
    info(s"100x LSH recall: $nCommon/$nExact exact pairs recovered")
    // 16 bands x 4 rows: per-pair candidate probability is ~0.65 AT
    // j=0.5 and >0.99 by j=0.8; the planted near-dup groups sit high,
    // so corpus recall stays near 1 — 0.9 is the drift alarm
    assert(nExact > 0 && nCommon.toDouble / nExact >= 0.9,
      s"LSH recall ${nCommon.toDouble / nExact} < 0.9 at 100x")
  }

  test("corpus pipeline end-to-end at 100x: one program, linear funnel, bounded") {
    // the north-star COMPOSITION (r7 verdict task 1): every stage is
    // individually rehearsed at 100x, but a real training-data run
    // executes ingest -> language -> quality -> exact dedup -> near
    // dedup -> sequence packing as ONE program. Baseline = the same
    // program over ONE tagged shard (10x); shards are disjoint by
    // construction, so the deterministic stages must scale EXACTLY 10x
    // and the LSH-dependent near-dedup stage within a tolerance band
    // (per-shard signatures hash different tokens).
    import graft.pipeline.CorpusPipeline
    def funnel(docs: org.apache.spark.sql.DataFrame)
        : (Map[String, Long], Long, Long) = {
      val (cleaned, metrics) = CorpusPipeline.prepareObserved(docs)
      val packed = CorpusPipeline.packSequences(cleaned, seqLen = 2048L)
      val row = packed
        .agg(count(lit(1)), sum("n_tokens"), max("pack_id")).collect()(0)
      (metrics(), row.getLong(1), row.getLong(2))
    }
    val base = "/root/testdata/sf0.01"
    val (m10, tok10, _) = funnel(
      ScaleCorpus.pipelineShard(spark, base, 0).localCheckpoint(true))
    val d100 = ScaleCorpus.docs100Meta(spark, base)
    assert(d100.count() == 50000L)
    val ((m100, tok100, maxPack100), t) = timed(funnel(d100))
    info(s"100x pipeline funnel: $m100 tokens=$tok100 " +
      f"maxPack=$maxPack100 in $t%.1fs (10x: $m10 tokens=$tok10)")
    // deterministic stages: disjoint shards, identical per-shard
    // semantics => exactly 10x the single-shard counts
    Seq("1_input", "2_language", "3_quality", "4_exact_dedup").foreach { s =>
      assert(m100(s) == 10 * m10(s),
        s"stage $s: ${m100(s)} != 10 * ${m10(s)} — per-shard behavior " +
          "drifted with corpus size")
    }
    // near-dedup survivors: LSH candidates depend on hash values, so
    // per-shard counts vary slightly around the shard-0 count — but a
    // superlinear pair blowup or a recall collapse both land far
    // outside +-10% of linear
    val near10 = m10("5_near_dedup").toDouble
    val near100 = m100("5_near_dedup").toDouble
    assert(near100 >= 9.0 * near10 && near100 <= 11.0 * near10,
      s"near-dedup survivors $near100 outside [9x, 11x] of $near10")
    assert(tok100 >= 9L * tok10 && tok100 <= 11L * tok10,
      s"packed token total $tok100 vs 10x $tok10 — token accounting drifted")
    // packing lays tokens head-to-tail: the last pack id must equal
    // floor((total tokens - 1) / seqLen) give-or-take the final doc
    // straddle — pin the exact floor bound packSequences guarantees
    assert(maxPack100 <= tok100 / 2048L,
      s"max pack_id $maxPack100 exceeds token-total bound ${tok100 / 2048L}")
    // wall-clock bound is host-load-dependent (ADVICE r9): default is
    // order-of-magnitude (observed ~4 s; a superlinear stage lands in
    // the thousands); GRAFT_STRICT_TIMING restores the tighter band
    val tBound = if (sys.env.contains("GRAFT_STRICT_TIMING")) 360.0 else 1800.0
    assert(t < tBound, f"100x pipeline took $t%.1fs — superlinear stage?")
  }

  test("streaming funnel at 100x: batch parity and flat batches, one decade up") {
    // the StreamingFunnelSpec contract re-pinned at 50k docs / 10
    // micro-batches: survivors still EXACTLY the batch funnel's set,
    // stage totals still the batch frontier counts, and per-batch
    // latency flat even as the persisted indexes grow 10x — the
    // months-of-ingest property at rehearsal scale
    import graft.pipeline.CorpusPipeline
    import graft.streaming.StreamingFunnel
    val d100 = ScaleCorpus.docs100Meta(spark)
    val cfg = CorpusPipeline.Config()
    val (batchOut, metrics) = CorpusPipeline.prepareObserved(d100, cfg)
    val expected = batchOut.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val m = metrics()
    val srcDir = java.nio.file.Files
      .createTempDirectory("funnel100-src").toString
    (0 until 10).foreach { s =>
      d100.where(col("doc_id") >= s * 1000000000L &&
          col("doc_id") < (s + 1) * 1000000000L)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val indexDir = java.nio.file.Files
      .createTempDirectory("funnel100-idx").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("funnel100-out").toString
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[StreamingFunnel.BatchStats]
    val q = StreamingFunnel.attach(
      spark.readStream.schema(d100.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      cfg, indexDir, outDir,
      java.nio.file.Files.createTempDirectory("funnel100-ck").toString,
      s => stats.synchronized { stats += s })
    q.awaitTermination(600000)
    assert(stats.size == 10, s"expected 10 micro-batches, saw ${stats.size}")
    val ms = stats.sortBy(_.batchId).map(_.ms).toSeq
    info(s"100x streamed funnel batches (ms): ${ms.mkString(",")}")
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == expected,
      s"decade parity broke — missing: " +
        s"${(expected -- streamed).toSeq.sorted.take(10)}; extra: " +
        s"${(streamed -- expected).toSeq.sorted.take(10)}")
    assert(stats.map(_.nLang).sum == m("2_language"))
    assert(stats.map(_.nExact).sum == m("4_exact_dedup"))
    assert(stats.map(_.nNear).sum == m("5_near_dedup"))
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val midMs = median(ms.slice(3, 6))
    val lastMs = median(ms.drop(6))
    val (factor, slack) =
      if (sys.env.contains("GRAFT_STRICT_TIMING")) (3L, 500L) else (10L, 2000L)
    assert(lastMs <= midMs * factor + slack,
      s"per-batch latency grew ${midMs}ms -> ${lastMs}ms over the decade — " +
        "batch work is scaling with ingested history")
    // round-13: attach()'s AUTO-maintenance fired at the default
    // cadence (10 batches -> one tiered cycle at trigger 9, on the
    // background thread — drained here for the assertion) and FOLDED
    // runs (negative ids in the manifest); the run above already
    // proved it result-invisible (survivor parity asserted after)
    graft.streaming.StreamingFunnel.drainMaintenance()
    def foldedRuns(idx: String): Boolean =
      graft.operators.RunManifest.read(spark,
          graft.operators.IndexLifecycle.resolveRoot(spark, idx))
        .exists(m => m.live.exists(_.id < 0) || m.dead.nonEmpty)
    assert(foldedRuns(s"$indexDir/hashes"),
      "auto-maintenance did not fold during the 10-batch attach run")
    assert(foldedRuns(s"$indexDir/lsh"))
  }

  test("knnJoin at 100x vectors: IVF pruning scales with nlist") {
    import graft.operators.IvfAnn
    import org.apache.spark.sql.functions.expr
    // 50 000 vectors: 100 perturbed-replica ranges of the sf0.01
    // embedding table (the emb10 construction, one decade up). The
    // scale knob the operator owns is nlist: growing it with the
    // corpus keeps per-query candidates ~n/(nlist/nprobe) bounded —
    // here 256/8 => ~1/32 of brute force, where the 10x rehearsal ran
    // 64/8 => ~1/8. sampleMod=100 keeps the driver-side k-means
    // training sample at ~600 vectors, corpus-size-independent.
    val base = graft.Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val emb100 = (0 until 100).map { r =>
      base.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> " +
          s"x + float(0.001) * float($r % 10) * float(if(i % 2 = 0, 1, -1)))")
          .cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val n = emb100.count()
    // ONE materialization serves both assertions (a second knnJoin run
    // would double the decade's dominant cost for no extra signal)
    val (graph, t) = timed {
      IvfAnn.knnJoin(emb100, emb100, k = 5, nlist = 256, nprobe = 8,
        sampleMod = 100).localCheckpoint(true)
    }
    val rows = graph.count()
    info(f"100x knn graph: $n vectors, $rows edges in $t%.1fs " +
      "(nprobe/nlist = 8/256 — candidates ~1/32 of brute force)")
    assert(rows == n * 5, "every vector must get k neighbors")
    assert(t < 600.0, f"pruned knn graph took $t%.1fs — unbounded?")
    // replicas of the same base vector are near-identical: even at
    // 1/32 pruning the graph must surface replica neighbors for most
    // queries (the 10x rehearsal's recall bar, held one decade up)
    val sameBase = graph
      .where(pmod(col("qid"), lit(10000000L)) ===
        pmod(col("vec_id"), lit(10000000L)))
      .select("qid").distinct().count()
    info(s"100x knn recall: $sameBase/$n queries kept a replica neighbor")
    // the 10x rehearsal pinned >= 0.9 and the measured 100x value is
    // 50000/50000 = 1.0 (docs/SCALING.md) — hold the same bar here; a
    // > n/2 gate would have passed a collapse to 0.51
    assert(sameBase >= math.ceil(0.9 * n).toLong,
      s"only $sameBase/$n queries kept a replica neighbor — recall collapsed?")
    graft.SessionMemo.free(graph)
  }

  test("incremental index probe at 100x: batch probe stays batch-sized") {
    // the 100 TB ingest lifecycle one decade up from the 10x rehearsal:
    // index the 50k corpus ONCE, then probe a 1k batch of planted
    // near-dups. The assertion is the lifecycle's whole point — probe
    // cost tracks the BATCH, not the corpus (bounded by the one-time
    // build), and every planted probe finds its source doc.
    val d100 = ScaleCorpus.docs100(spark)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-100x-lsh").toString
    val (_, tBuild) = timed {
      graft.operators.Dedup.writeLshIndex(d100, "doc_id", "text", idx)
    }
    val batch = d100.where(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"),
        concat(col("text"), lit(" probe")).as("text"))
      .localCheckpoint(true)
    val nBatch = batch.count()
    val (matches, tProbe) = timed {
      graft.operators.Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx,
        threshold = 0.5).count()
    }
    info(f"100x index build $tBuild%.1fs; $nBatch-doc probe $tProbe%.1fs, " +
      s"$matches matches")
    assert(matches >= nBatch,
      s"planted probes must match their source docs ($matches < $nBatch)")
    assert(tProbe < tBuild * 2 + 60.0,
      "probing must not degenerate into corpus-sized work")
  }

  test("audio fingerprint match at 100x (50k waves): realistic entropy") {
    // Round 10 (verdict task 5): the old fixture drew from 250
    // single-tone frequencies, so landmark hashes collided massively
    // and the rehearsal's 68 s join fan-out measured FIXTURE entropy,
    // not the operator. This fixture plays TWO tones per 2048-sample
    // frame from 1..1023 bins (enabled by the round-10 hash widening)
    // — ~2^21 distinct (f1, f2, dt) combos, the real-audio regime
    // where posting lists are near-singleton and the join tracks true
    // pairs. ~4.4M landmarks over ~2M hash space => mean df ~2.
    import org.apache.spark.sql.functions.udf
    val wave = udf { id: Long =>
      var st = id * 6364136223846793005L + 1442695040888963407L
      def next(): Int = {
        st = st * 6364136223846793005L + 1442695040888963407L
        (((st >>> 33) % 1023) + 1).toInt
      }
      val freqs = Array.fill(26)(next())
      // 128 + for the (b & 0xFF) - 128 decode contract (see waveBytes)
      Array.tabulate(26624) { i =>
        val b = i / 2048
        val f1 = freqs(2 * b)
        val f2raw = freqs(2 * b + 1)
        val f2 = if (f2raw == f1) f1 % 1023 + 1 else f2raw
        (128 + 63 * math.cos(2 * math.Pi * f1 * (i % 2048) / 2048.0) +
          63 * math.cos(2 * math.Pi * f2 * (i % 2048) / 2048.0)).toByte
      }
    }
    val packed = spark.range(50000)
      .select(col("id"), wave(col("id")).as("payload"))
      .localCheckpoint(true)
    val shift = udf { p: Array[Byte] =>
      Array.tabulate(2048)(i =>
        (128 + 127 * math.cos(2 * math.Pi * 9 * i / 2048.0)).toByte) ++ p
    }
    val twins = packed.where(col("id") < 50)
      .select((col("id") + 10000000L).as("id"),
        shift(col("payload")).as("payload"))
    val all = packed.unionByName(twins)
    // staged fan-out readout: at real entropy the pair join must track
    // TRUE pairs, not posting-list saturation — postings join to only
    // a small multiple of themselves when df is near-singleton
    val lt = graft.operators.AudioFingerprint.landmarkTable(
        all.repartition(col("id")), 2048, 2048, 2, 2)
      .localCheckpoint(true)
    val nLandmarks = lt.count()
    val rare = lt.groupBy("hash")
      .agg(countDistinct("id").as("df"))
      .where(col("df") <= 50 && col("df") >= 2)
    val meanDf = rare.agg(avg("df")).collect()(0).getDouble(0)
    val joined = lt.join(broadcast(rare.select("hash")), "hash")
    val nPostings = joined.count()
    val nPairRows = joined.as("a").join(joined.as("b"),
        col("a.hash") === col("b.hash") && col("a.id") < col("b.id"))
      .count()
    info(f"100x audio entropy: $nLandmarks landmarks, mean rare-df " +
      f"$meanDf%.1f, $nPostings postings -> $nPairRows pair rows")
    assert(meanDf < 10.0,
      f"mean df $meanDf%.1f — fixture entropy collapsed back to the " +
        "collision regime (was ~45 saturated pre-round-10)")
    assert(nPairRows < 20L * nPostings,
      s"$nPairRows pair rows from $nPostings postings — join fan-out " +
        "no longer tracks true pairs")
    val (rows, t) = timed {
      graft.operators.AudioFingerprint.matches(all, minVotes = 60,
          frameSize = 2048, hop = 2048, peaksPerFrame = 2, fanout = 2)
        .collect()
    }
    val twinHits = rows.count(r => r.getLong(1) == r.getLong(0) + 10000000L)
    info(f"100x audio: ${rows.length} matches in $t%.1fs, " +
      s"$twinHits/50 twins recovered")
    assert(t < 300.0, f"100x audio took $t%.1fs at real entropy — " +
      "the fan-out is back")
    assert(twinHits >= 40,
      s"only $twinHits/50 twins at 100x — df-capping ate the recall")
  }

  test("audio fingerprint, adversarial collision-heavy corpus: df-cap bounds") {
    // the OLD 100x fixture, kept deliberately (verdict task 5): 250
    // single-tone frequencies saturate the hash space, the exact shape
    // the df-cap exists for. 20k waves (fan-out scales ~quadratically
    // in corpus/hash-space ratio; 50k measured 68 s, this is ~0.16x).
    import org.apache.spark.sql.functions.udf
    val wave = udf { id: Long =>
      var st = id * 6364136223846793005L + 1442695040888963407L
      def next(): Int = {
        st = st * 6364136223846793005L + 1442695040888963407L
        (((st >>> 33) % 250) + 1).toInt
      }
      val freqs = Array.fill(13)(next())
      Array.tabulate(6656) { i =>
        (128 + 127 * math.cos(2 * math.Pi * freqs(i / 512) * (i % 512) / 512.0))
          .toByte
      }
    }
    val packed = spark.range(20000)
      .select(col("id"), wave(col("id")).as("payload"))
      .localCheckpoint(true)
    val shift = udf { p: Array[Byte] =>
      Array.tabulate(512)(i =>
        (128 + 127 * math.cos(2 * math.Pi * 9 * i / 512.0)).toByte) ++ p
    }
    val twins = packed.where(col("id") < 50)
      .select((col("id") + 10000000L).as("id"),
        shift(col("payload")).as("payload"))
    val all = packed.unionByName(twins)
    // pin the cap MECHANISM: pair rows can never exceed dfCap x
    // postings (each posting row joins at most dfCap - 1 partners) —
    // if the cap were dropped, saturation would blow straight past it
    val lt = graft.operators.AudioFingerprint.landmarkTable(
        all.repartition(col("id")), 512, 256, 2, 2)
      .localCheckpoint(true)
    val rare = lt.groupBy("hash")
      .agg(countDistinct("id").as("df"))
      .where(col("df") <= 50 && col("df") >= 2)
    val joined = lt.join(broadcast(rare.select("hash")), "hash")
    val nPostings = joined.count()
    val nPairRows = joined.as("a").join(joined.as("b"),
        col("a.hash") === col("b.hash") && col("a.id") < col("b.id"))
      .count()
    info(s"adversarial audio: $nPostings postings -> $nPairRows pair rows " +
      s"(cap bound ${50L * nPostings})")
    assert(nPairRows <= 50L * nPostings,
      "pair rows exceed the dfCap x postings bound — the cap is not applied")
    val (rows, t) = timed {
      graft.operators.AudioFingerprint.matches(all, minVotes = 60,
          frameSize = 512, hop = 256, peaksPerFrame = 2, fanout = 2)
        .collect()
    }
    val twinHits = rows.count(r => r.getLong(1) == r.getLong(0) + 10000000L)
    info(f"adversarial audio: ${rows.length} matches in $t%.1fs, " +
      s"$twinHits/50 twins recovered")
    assert(t < 600.0, f"collision-heavy audio took $t%.1fs — the cliff " +
      "is back (df-cap must bound the join even at saturated entropy)")
    assert(twinHits >= 40,
      s"only $twinHits/50 twins — df-capping ate the recall")
  }
}
