package graft

import graft.operators.SnapshotStore

/** Snapshot atomic-swap semantics (reference K3, minus its
  * drop-then-rename visibility gap).
  */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  test("writeSnapshot swaps atomically and survives re-snapshot") {
    val dir = tempDir("snap").toString + "/t"
    val n1 = SnapshotStore.writeSnapshot(spark, Seq(1, 2, 3).toDF("v"), dir)
    assert(n1 == 3)
    assert(spark.read.parquet(dir).count() == 3)
    // second snapshot replaces the first, no leftover staging/old dirs
    val n2 = SnapshotStore.writeSnapshot(spark, Seq(4, 5).toDF("v"), dir)
    assert(n2 == 2)
    val vals = spark.read.parquet(dir).as[Int].collect().sorted
    assert(vals.toSeq == Seq(4, 5))
    assert(!new java.io.File(dir + ".staging").exists)
    assert(!new java.io.File(dir + ".old").exists)
  }

  test("a crash between the swap's two renames is healed, forward or back") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

    // FORWARD: live renamed out, complete marked staging present — the
    // crash hit after live->old; recovery must finish the swap (promote
    // staging), not resurrect the stale old
    val d1 = tempDir("snapf").toString + "/t"
    SnapshotStore.writeSnapshot(spark, Seq(1, 2, 3).toDF("v"), d1)
    // simulate the next swap's crash point: staging fully written +
    // ready-marked, live staged out to .old
    Seq(10, 20).toDF("v").write.parquet(d1 + ".staging")
    fs.create(new Path(d1 + ".staging", "_graft_swap_ready"), true).close()
    assert(fs.rename(new Path(d1), new Path(d1 + ".old")))
    SnapshotStore.recoverInterruptedSwap(spark, d1)
    assert(spark.read.parquet(d1).as[Int].collect().sorted.toSeq
      === Seq(10, 20), "recovery must complete the marked swap forward")
    assert(!fs.exists(new Path(d1 + ".old")) && !fs.exists(new Path(d1 + ".staging")))

    // BACKWARD: live missing, staging absent or unmarked (crash mid
    // staging-write of a later attempt) — roll the old snapshot back
    val d2 = tempDir("snapb").toString + "/t"
    SnapshotStore.writeSnapshot(spark, Seq(7, 8).toDF("v"), d2)
    assert(fs.rename(new Path(d2), new Path(d2 + ".old")))
    Seq(99).toDF("v").write.parquet(d2 + ".staging") // NO ready marker
    SnapshotStore.recoverInterruptedSwap(spark, d2)
    assert(spark.read.parquet(d2).as[Int].collect().sorted.toSeq
      === Seq(7, 8), "recovery must roll an unmarked swap back")

    // and writeSnapshot itself heals before writing (the in-stream
    // compaction path crashes here too)
    val d3 = tempDir("snapw").toString + "/t"
    SnapshotStore.writeSnapshot(spark, Seq(1).toDF("v"), d3)
    assert(fs.rename(new Path(d3), new Path(d3 + ".old"))) // staged out, no staging
    val n = SnapshotStore.writeSnapshot(spark, Seq(2, 3).toDF("v"), d3)
    assert(n === 2 && !fs.exists(new Path(d3 + ".old")))
  }

  test("crash matrix: every interruption point x every follow-up leaves exactly old-or-new") {
    // VERDICT r9 #3: the protocol has seven distinguishable on-disk
    // states a process death can strand (one per step of stagedSwap,
    // SnapshotStore.scala:79-95, plus the first-ever swap's no-live
    // variant). For each, run each of three follow-ups the real system
    // produces — bare recovery (the foreachBatch commit-marker skipped
    // the re-call), a RE-DELIVERED batch (same frame re-written), and
    // the NEXT compaction frame (a different writer reusing the dir) —
    // and assert the one protocol property: the table always reads as
    // EXACTLY the old frame or exactly the new one. Never empty, never
    // doubled, never a mix.
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldRows = Seq(1, 2, 3)
    val newRows = Seq(10, 20)
    val nextRows = Seq(100, 200, 300, 400)

    // reconstruct the exact state a death immediately AFTER each
    // protocol step leaves on disk
    def mkCrash(point: String): String = {
      val dir = tempDir(s"cm").toString + "/t"
      if (point != "first-swap-between-renames")
        SnapshotStore.writeSnapshot(spark, oldRows.toDF("v"), dir)
      def stage(marked: Boolean): Unit = {
        newRows.toDF("v").write.parquet(dir + ".staging")
        if (marked)
          fs.create(new Path(dir + ".staging", "_graft_swap_ready"), true).close()
      }
      point match {
        case "mid-staging-write" => // dir exists, content garbage, no marker
          fs.mkdirs(new Path(dir + ".staging"))
          fs.create(new Path(dir + ".staging", "part-00000.parquet.tmp"), true).close()
        case "post-staging-write" => stage(marked = false)
        case "post-marker"        => stage(marked = true)
        case "between-renames" =>
          stage(marked = true)
          assert(fs.rename(new Path(dir), new Path(dir + ".old")))
        case "first-swap-between-renames" => // hadLive=false: no live, no .old
          stage(marked = true)
        case "post-promote" => // marker still INSIDE live, stale .old present
          stage(marked = true)
          assert(fs.rename(new Path(dir), new Path(dir + ".old")))
          assert(fs.rename(new Path(dir + ".staging"), new Path(dir)))
        case "post-old-cleanup" => // only the in-live marker delete remained
          stage(marked = true)
          assert(fs.rename(new Path(dir), new Path(dir + ".old")))
          assert(fs.rename(new Path(dir + ".staging"), new Path(dir)))
          fs.delete(new Path(dir + ".old"), true)
      }
      dir
    }

    val points = Seq("mid-staging-write", "post-staging-write", "post-marker",
      "between-renames", "first-swap-between-renames", "post-promote",
      "post-old-cleanup")
    // states where the swap already committed (or recovery must commit
    // it forward): a reader after recovery sees NEW; everything earlier
    // rolls to OLD
    val seesNew = Set("between-renames", "first-swap-between-renames",
      "post-promote", "post-old-cleanup")

    def readAll(dir: String): Seq[Int] =
      spark.read.parquet(dir).as[Int].collect().sorted.toSeq

    for (p <- points) {
      // ARM 1: bare recovery
      val d1 = mkCrash(p)
      SnapshotStore.recoverInterruptedSwap(spark, d1)
      val got = readAll(d1)
      val want = if (seesNew(p)) newRows else oldRows
      assert(got === want, s"[$p/recovery] read $got, wanted $want")
      assert(got == oldRows || got == newRows, // the protocol property itself
        s"[$p/recovery] table is neither frame: $got")

      // ARM 2: the batch is re-delivered (same frame, full writeSnapshot)
      val d2 = mkCrash(p)
      val n2 = SnapshotStore.writeSnapshot(spark, newRows.toDF("v"), d2)
      assert(n2 === newRows.size && readAll(d2) === newRows,
        s"[$p/redelivery] re-delivered frame did not land exactly once")
      assert(!fs.exists(new Path(d2 + ".staging")) && !fs.exists(new Path(d2 + ".old")),
        s"[$p/redelivery] staging/old not reclaimed")

      // ARM 3: the NEXT compaction frame reuses the dir
      val d3 = mkCrash(p)
      val n3 = SnapshotStore.writeSnapshot(spark, nextRows.toDF("v"), d3)
      assert(n3 === nextRows.size && readAll(d3) === nextRows,
        s"[$p/next-frame] follow-up frame did not replace the crash state")
      assert(!fs.exists(new Path(d3 + ".staging")) && !fs.exists(new Path(d3 + ".old")),
        s"[$p/next-frame] staging/old not reclaimed")
    }
  }
}
