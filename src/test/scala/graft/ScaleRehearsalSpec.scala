package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale rehearsal for the broadcast-hint defaults (r3 verdict task 5):
  * the explicit `broadcast()` hints on the Jaccard verify joins were
  * justified by sf0.1 measurements only. Here the shingle table is
  * pushed to 10x the correctness corpus (5 000 docs, heavy cross-
  * replica near-dup structure) and the hint is turned OFF
  * (`verifyBroadcast=false` — the documented escape hatch for when the
  * shingle table exceeds broadcast memory): every path must produce
  * IDENTICAL pairs to the hinted run and finish in bounded time on the
  * shuffled plan. AQE is free to re-broadcast from runtime stats —
  * that is the mechanism that would actually pick the join at 100 TB,
  * the point is that nothing in the PLAN forces corpus-sized state
  * through a broadcast.
  *
  * Measured numbers live in docs/SCALING.md ("Broadcast-off rehearsal").
  */
class ScaleRehearsalSpec extends SparkSpec {

  // 10x the sf0.01 corpus: replicas keep near-dup structure (slightly
  // perturbed text) and unique ids in disjoint ranges
  private lazy val docs10: DataFrame =
    ScaleCorpus.docs10(spark).localCheckpoint(true)

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("jaccardPairs without the verify broadcast: same pairs, bounded") {
    val (hinted, tHint) = timed {
      Dedup.jaccardPairs(docs10, "doc_id", "text", threshold = 0.2,
          dfCap = 50, minShared = 2, verifyBroadcast = Some(true))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val (shuffled, tShuf) = timed {
      Dedup.jaccardPairs(docs10, "doc_id", "text", threshold = 0.2,
          dfCap = 50, minShared = 2, verifyBroadcast = Some(false))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    info(f"10x corpus: hinted $tHint%.1fs, shuffled $tShuf%.1fs, " +
      s"${shuffled.size} pairs")
    assert(shuffled == hinted,
      "the hint must be a pure strategy choice, never a result change")
    assert(shuffled.nonEmpty, "cross-replica near-dups must be found")
    assert(tShuf < 180.0, f"shuffled verify took $tShuf%.1fs — unbounded?")
  }

  test("containment verify without the broadcast: same pairs, bounded") {
    // the round-6 `weak`: containmentPairs forced broadcast(sh) on the
    // corpus-sized shingle table. Now it rides the size-gated
    // fetchShingles — prove the hint is a pure strategy choice on the
    // 10x graph, both directions
    val g = graft.operators.NearDupGraph.graph(docs10, "doc_id", "text",
      threshold = 0.2, dfCap = 50, minShared = 2, cacheKey = "rehearsal-10x")
    def pairsOf(hint: Option[Boolean]) =
      graft.queries.DedupQueries.containmentFrom(g.candidates, g.shingles, hint)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (hinted, tHint) = timed(pairsOf(Some(true)))
    val (shuffled, tShuf) = timed(pairsOf(Some(false)))
    info(f"10x containment: hinted $tHint%.1fs, shuffled $tShuf%.1fs, " +
      s"${shuffled.size} pairs")
    assert(shuffled == hinted,
      "containment hint must be a pure strategy choice, never a result change")
    assert(shuffled.nonEmpty, "cross-replica containment pairs must be found")
    assert(tShuf < 180.0, f"shuffled containment took $tShuf%.1fs — unbounded?")
  }

  test("fuzzyJoin at 10x: probe-side-only broadcast stays bounded") {
    val probes = docs10.where(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("probe_id"),
        regexp_replace(col("text"), "^(\\S+\\s+){5}", "").as("ptext"))
    val (rows, t) = timed {
      Dedup.fuzzyJoin(docs10, "doc_id", "text",
        probes, "probe_id", "ptext", threshold = 0.5).count()
    }
    info(f"10x fuzzy join: $rows resolved pairs in $t%.1fs")
    assert(rows > 0)
    assert(t < 180.0, f"fuzzy join took $t%.1fs — unbounded?")
  }

  test("knnJoin at 10x vectors: pruned probe stays bounded, recall holds") {
    import graft.operators.IvfAnn
    // 10x the sf0.01 embedding table: perturbed replicas in disjoint
    // id ranges (same construction as docs10 — near-neighbor structure
    // survives so recall is measurable, cardinality is 10x)
    val base = Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val emb10 = (0 until 10).map { r =>
      base.select(
        (col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> " +
          s"x + float(0.001) * float($r) * float(if(i % 2 = 0, 1, -1)))")
          .cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val n = emb10.count()
    val (rows, t) = timed {
      IvfAnn.knnJoin(emb10, emb10, k = 5, nlist = 64, nprobe = 8,
        sampleMod = 10).count()
    }
    info(f"10x knn graph: $n vectors, $rows edges in $t%.1fs " +
      "(nprobe/nlist = 8/64 — candidates ~1/8 of brute force)")
    assert(rows == n * 5, "every vector must get k neighbors")
    assert(t < 180.0, f"pruned knn graph took $t%.1fs — unbounded?")
    // replicas of the same base vector are near-identical: the pruned
    // graph must still surface replica neighbors for most queries
    val sameBase = IvfAnn.knnJoin(emb10, emb10, k = 5, nlist = 64,
        nprobe = 8, sampleMod = 10)
      .where(pmod(col("qid"), lit(10000000L)) ===
        pmod(col("vec_id"), lit(10000000L)))
      .select("qid").distinct().count()
    assert(sameBase > n / 2,
      s"only $sameBase/$n queries kept a replica neighbor — recall collapsed?")
  }

  test("blockingAudit at 10x: three bounded counts off one cascade") {
    // the audit must stay readout-arithmetic over the SHARED cascade:
    // 10x docs, one graph build, three counts — never a recompute
    val (g, tGraph) = timed {
      graft.operators.NearDupGraph.graph(docs10, "doc_id", "text",
        threshold = 0.2, dfCap = 50, minShared = 2,
        cacheKey = "rehearsal-10x")
    }
    val (row, tAudit) = timed {
      graft.operators.Dedup.blockingReadout(spark, g.nDocs,
        g.candidates.count(), g.pairs.count()).collect()(0)
    }
    info(f"10x blocking audit: graph $tGraph%.1fs + readout $tAudit%.1fs")
    assert(row.getLong(0) == 5000L, s"n_docs ${row.getLong(0)}")
    assert(tGraph < 180.0 && tAudit < 60.0,
      f"unbounded: graph $tGraph%.1fs audit $tAudit%.1fs")
    // reduction ratio must stay extreme: candidates a small fraction
    // of the 12.5M all-pairs space. This fixture is deliberately
    // near-dup-DENSE (every doc has 9 true replicas), so ~1% is the
    // legitimate floor — 3% would mean blocking degenerated beyond
    // the planted structure (measured: 0.0104 at 10x)
    val nCand = g.candidates.count().toDouble
    val allPairs = 5000.0 * 4999 / 2
    assert(nCand / allPairs < 0.03,
      f"blocking stopped blocking: ${nCand / allPairs}%.4f of all-pairs")
  }

  test("audio match at 10x docs with audio-like hash entropy") {
    // The REGISTERED query pins a 500-doc slice because its chirp
    // fixture's hash space is frameSize-bounded (documented on
    // MultimodalQueries.audioMatch); real audio's constellation
    // entropy grows with frame resolution, not corpus size. This
    // rehearsal scales BOTH: 5 000 docs against frameSize=512
    // (~131k (f1,f2,dt) combos) — landmark density per doc stays
    // constant, the df-cap keeps candidate volume linear, and the
    // planted shifted twins must still surface via the offset vote.
    import org.apache.spark.sql.functions.{col, udf}
    val wave = udf { id: Long =>
      var st = id * 6364136223846793005L + 1442695040888963407L
      def next(): Int = {
        st = st * 6364136223846793005L + 1442695040888963407L
        (((st >>> 33) % 250) + 1).toInt
      }
      val freqs = Array.fill(13)(next())
      Array.tabulate(6656) { i =>
        (127 * math.cos(2 * math.Pi * freqs(i / 512) * (i % 512) / 512.0))
          .toByte
      }
    }
    val packed = spark.range(5000)
      .select(col("id"), wave(col("id")).as("payload"))
    val shift = udf { p: Array[Byte] =>
      Array.tabulate(512)(i =>
        (127 * math.cos(2 * math.Pi * 9 * i / 512.0)).toByte) ++ p
    }
    val twins = packed.where(col("id") < 50)
      .select((col("id") + 1000000L).as("id"),
        shift(col("payload")).as("payload"))
    val (rows, t) = timed {
      graft.operators.AudioFingerprint.matches(
          packed.unionByName(twins), minVotes = 60,
          frameSize = 512, hop = 256, peaksPerFrame = 2, fanout = 2)
        .collect()
    }
    val twinHits = rows.count(r =>
      r.getLong(1) == r.getLong(0) + 1000000L)
    info(f"10x audio: ${rows.length} matches in $t%.1fs, " +
      s"$twinHits/50 planted twins recovered")
    assert(t < 180.0, f"audio match took $t%.1fs — scale cliff is back?")
    assert(twinHits >= 40,
      s"only $twinHits/50 twins survived df-capping — recall collapsed")
  }

  test("RAKE at 10x: row-local segmentation, bounded") {
    val (top, t) = timed {
      graft.queries.TextQueries.rakeTopKFrom(docs10).collect()
    }
    info(f"10x RAKE: top ${top.length} phrases in $t%.1fs")
    assert(top.length == 30)
    assert(t < 180.0, f"RAKE took $t%.1fs — segmentation went corpus-wide?")
    // the replica suffix rides every doc, so phrase stats must reflect
    // the 10x structure: every top phrase occurs at least once
    assert(top.forall(_.getLong(1) >= 1))
  }

  test("distributed LPA and PPR at 10x: bounded, agree with driver paths") {
    // the round-6 graph operators' DISTRIBUTED loops, which the 4M-edge
    // gate hides from the registered queries, exercised on the 10x
    // pair graph: bounded wall-clock and exact agreement with the
    // driver fast paths (LPA integer-exact; PPR to the 6dp contract)
    import graft.operators.{LabelProp, PageRank}
    val pairs = graft.operators.NearDupGraph.graph(docs10, "doc_id",
        "text", threshold = 0.2, dfCap = 50, minShared = 2,
        cacheKey = "rehearsal-10x")
      .pairs.select("ida", "idb").localCheckpoint(true)
    val edges = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .unionAll(pairs.select(col("idb").as("src"), col("ida").as("dst")))
    val (lpaD, tLpa) = timed {
      LabelProp.communitiesDistributed(edges, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val lpaDr = LabelProp.communitiesOnDriver(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpaD == lpaDr, "distributed LPA must equal the driver loop")
    val seeds = pairs.select(col("ida").as("doc_id"))
      .unionAll(pairs.select(col("idb").as("doc_id")))
      .distinct().where(pmod(col("doc_id"), lit(7)) === 0)
      .localCheckpoint(true)
    val (pprD, tPpr) = timed {
      PageRank.personalizedDistributed(pairs, seeds, iters = 3,
          damping = 0.85)
        .collect()
        .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    }
    val pprDr = PageRank.personalizedOnDriver(pairs, seeds, iters = 3,
        damping = 0.85)
      .collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6)).toMap
    assert(pprD == pprDr, "distributed PPR must equal the driver loop")
    info(f"10x graph: LPA $tLpa%.1fs (${lpaD.values.toSet.size} " +
      f"communities), PPR $tPpr%.1fs (${pprD.size} reached nodes)")
    assert(tLpa < 120.0 && tPpr < 120.0,
      f"unbounded: lpa $tLpa%.1fs ppr $tPpr%.1fs")
  }

  test("dedupAgainstIndex at 10x: batch probe is batch-sized work") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-rehearsal-lsh").toString
    val (_, tBuild) = timed {
      Dedup.writeLshIndex(docs10, "doc_id", "text", idx)
    }
    // the probe batch: fresh near-dups of every 50th doc
    val batch = docs10.where(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"),
        concat(col("text"), lit(" probe")).as("text"))
    val (matches, tProbe) = timed {
      Dedup.dedupAgainstIndex(batch, "doc_id", "text", idx,
        threshold = 0.5).count()
    }
    info(f"10x index build $tBuild%.1fs; batch probe $tProbe%.1fs, " +
      s"$matches matches")
    assert(matches > 0, "planted probes must match their source docs")
    assert(tProbe < tBuild * 2 + 30.0,
      "probing must not degenerate into corpus-sized work")
  }
}
