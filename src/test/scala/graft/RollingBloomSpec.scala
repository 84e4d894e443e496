package graft

import java.nio.file.Files

import graft.operators.RollingBloom

/** Direct contracts of the rolling-bloom lifecycle (round 12 — the
  * advisor's staleness finding):
  *
  *  1. base (batchless) rolls NEVER overwrite a file in place — each
  *     lands in a fresh generation filename, so the (path, mtime,
  *     length) read cache can never serve a stale pre-overwrite
  *     instance on filesystems with coarse mtime granularity;
  *  2. read() returns the newest generation's content (all keys);
  *  3. old generations are pruned to a bounded count;
  *  4. the (capacity, fpp) geometry is RECORDED at the first roll and
  *     later rolls use the recorded values — a conf/argument change
  *     mid-lifecycle cannot produce a merge-incompatible snapshot;
  *  5. the read cache holds one snapshot per directory, however many
  *     batches rolled.
  */
class RollingBloomSpec extends SparkSpec {

  private def files(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else d.listFiles().map(_.getName).filter(_.startsWith("bloom-")).toSeq
  }

  test("base rolls write fresh generations, read newest, prune old") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rb-gen").toString + "/bloom"
    RollingBloom.roll(spark, dir, (1L to 100L).toDF("k"), "k", None,
      10000L, 0.01)
    val f1 = files(dir)
    RollingBloom.roll(spark, dir, (1001L to 1100L).toDF("k"), "k", None,
      10000L, 0.01)
    val f2 = files(dir)
    assert(f1.nonEmpty && f2.nonEmpty)
    assert(f2.toSet.intersect(f1.toSet) == f1.toSet.intersect(f2.toSet))
    assert((f2.toSet -- f1.toSet).nonEmpty,
      s"second base roll must land in a NEW filename (got $f1 -> $f2) — " +
        "an in-place overwrite can serve a stale cached bloom under " +
        "coarse mtime granularity")
    // newest generation holds ALL keys (each roll merges history)
    val bf = RollingBloom.read(spark, dir).get
    assert(bf.mightContainLong(1L) && bf.mightContainLong(1001L))
    // prune keeps a bounded number of base generations
    (1 to 6).foreach { i =>
      RollingBloom.roll(spark, dir,
        ((2000L + i * 100) to (2099L + i * 100)).toDF("k"), "k", None,
        10000L, 0.01)
    }
    assert(files(dir).size <= 2,
      s"old base generations must be pruned, got ${files(dir)}")
    val all = RollingBloom.read(spark, dir).get
    assert(all.mightContainLong(1L) && all.mightContainLong(2600L),
      "pruning must never lose keys — every roll merges all history")
  }

  test("geometry records at first roll; later args cannot break merging") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rb-geom").toString + "/bloom"
    RollingBloom.roll(spark, dir, (1L to 50L).toDF("k"), "k", None,
      5000L, 0.001)
    assert(RollingBloom.readMeta(spark, dir).contains((5000L, 0.001)))
    // a WILDLY different capacity/fpp on the next roll must not throw
    // (mergeInPlace requires identical bit geometry — the recorded
    // values win, the arguments are ignored)
    RollingBloom.roll(spark, dir, (51L to 100L).toDF("k"), "k", None,
      999999L, 0.2)
    assert(RollingBloom.readMeta(spark, dir).contains((5000L, 0.001)),
      "recorded geometry must survive later rolls")
    val bf = RollingBloom.read(spark, dir).get
    assert(bf.mightContainLong(1L) && bf.mightContainLong(100L))
  }

  test("auto capacity sizes from the first roll's keys, floor 65536") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rb-auto").toString + "/bloom"
    RollingBloom.roll(spark, dir, (1L to 200L).toDF("k"), "k", None,
      -1L, 0.01)
    val meta = RollingBloom.readMeta(spark, dir)
    assert(meta.exists(_._1 == 65536L),
      s"200 keys at 16x headroom sits under the floor -> 65536, got $meta")
    // and the snapshot is small — the whole point of auto-sizing (the
    // legacy fixed 16M capacity wrote ~8 MB per snapshot)
    val sz = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bloom-")).map(_.length()).max
    assert(sz < 200000L, s"auto-sized snapshot unexpectedly large: $sz B")
  }

  test("the read cache keeps one snapshot per directory") {
    import spark.implicits._
    val base = Files.createTempDirectory("rb-cache").toString
    val dirs = Seq(s"$base/a", s"$base/b")
    (0L until 5L).foreach { b =>
      dirs.foreach { dir =>
        RollingBloom.roll(spark, dir,
          ((b * 100) until (b * 100 + 50)).toDF("k"), "k", Some(b),
          10000L, 0.01)
        assert(RollingBloom.read(spark, dir).get.mightContainLong(b * 100))
        // the replay view (own batch excluded) reads the older snapshot
        if (b > 0) RollingBloom.read(spark, dir, excludeBatch = Some(b))
      }
    }
    dirs.foreach { dir =>
      assert(RollingBloom.read(spark, dir).get.mightContainLong(0L))
      val held = RollingBloom.cachedSnapshots.filter(_.contains(dir + "/"))
      assert(held.size == 1 && held.head.endsWith("bloom-4.bin"),
        s"$dir: cached snapshots $held, expected only the newest")
    }
  }
}
