package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions._

import graft.ops.{Analytics, Lineage}
import graft.ops.Lineage._

/** The durable-checkpoint seam (VERDICT r15 item 3): every iterative
  * operator truncates lineage through [[graft.ops.Lineage]]'s
  * `graftCheckpoint`, which defaults to `localCheckpoint` and switches to
  * reliable `Dataset.checkpoint` when `spark.graft.checkpoint.dir` is
  * set. These specs pin (a) result-identity between the two modes, (b)
  * the recovery property the knob buys — cached blocks can die mid-loop
  * and the run still completes from checkpoint files — and (c) that the
  * default mode writes nothing durable.
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  // both walk() helpers close the stream: Files.walk holds a directory
  // handle until closed, and a suite-long leak per call adds up
  private def scrub(dir: String): Unit =
    try {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def fileCount(dir: String): Long = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally st.close()
  }

  private def withCheckpointDir[A](f: String => A): A = {
    val dir = tempDir("graft-lineage-ckpt").toString
    spark.conf.set(Lineage.CheckpointDirKey, dir)
    try f(dir)
    finally {
      spark.conf.unset(Lineage.CheckpointDirKey)
      // scrub the dir so suites stay hermetic
      scrub(dir)
    }
  }

  private def chainEdges(n: Int) =
    (0 until n).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")

  test("graftCheckpoint default = localCheckpoint (no durable files); knob = reliable files") {
    val df = Seq(1, 2, 3).toDF("x")
    val local = df.graftCheckpoint()
    assert(local.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
    assert(org.apache.spark.sql.GraftBridge.isFlatRdd(local),
      "default mode must be the block-cached localCheckpoint form")
    org.apache.spark.sql.GraftBridge.freeCheckpoint(local)
    withCheckpointDir { dir =>
      val durable = df.graftCheckpoint()
      assert(durable.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
      assert(fileCount(dir) > 0, "durable mode must write checkpoint files into the knob's dir")
    }
  }

  test("graftCheckpoint re-applies the knob after an external setCheckpointDir redirect") {
    // the guard reads the LIVE context state: a shadow "applied once" map
    // goes stale when user code redirects the context's checkpoint dir for
    // its own RDD work, silently landing every later 'durable' checkpoint
    // in the foreign (possibly ephemeral) directory
    withCheckpointDir { dir =>
      val sc = spark.sparkContext
      Seq(1, 2).toDF("x").graftCheckpoint().collect()
      val applied = sc.getCheckpointDir.get
      assert(new org.apache.hadoop.fs.Path(applied).getParent.toUri.getPath ==
        new org.apache.hadoop.fs.Path(dir).toUri.getPath, s"knob not applied: $applied")
      // a foreign component redirects the context for its own checkpoints
      val foreign = tempDir("graft-foreign-ckpt").toString
      sc.setCheckpointDir(foreign)
      try {
        val durable = Seq(3, 4).toDF("x").graftCheckpoint()
        assert(durable.collect().map(_.getInt(0)).sorted.sameElements(Array(3, 4)))
        val after = sc.getCheckpointDir.get
        assert(new org.apache.hadoop.fs.Path(after).getParent.toUri.getPath ==
          new org.apache.hadoop.fs.Path(dir).toUri.getPath,
          s"the knob must be re-applied after a redirect, got $after")
        assert(fileCount(dir) > 0,
          "the durable files must land under the KNOB dir, not the foreign one")
      } finally scrub(foreign)
    }
  }

  test("durable checkpoint survives total block loss; local mode provably cannot") {
    // local mode first: kill the blocks behind a localCheckpoint and the
    // frame is unrecoverable (lineage truncated) — the exact 100-TB
    // executor-loss hazard the knob exists for
    val local = Seq(1, 2, 3).toDF("x").graftCheckpoint()
    assert(local.count() == 3)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    intercept[Exception] { local.collect() }
    // durable mode: same kill, recovery from the checkpoint files
    withCheckpointDir { _ =>
      val durable = Seq(4, 5, 6).toDF("x").graftCheckpoint()
      assert(durable.count() == 3)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(durable.collect().map(_.getInt(0)).sorted.sameElements(Array(4, 5, 6)),
        "reliable checkpoint must re-read from files after every cached block died")
    }
  }

  test("bfsHops in durable mode: blocks killed MID-LOOP by a listener, run completes, result identical") {
    val edges = chainEdges(8)
    val seeds = Seq("n0").toDF("node")
    val expected = Analytics.bfsHops(edges, seeds, maxHops = 8)
      .as[(String, Int)].collect().sortBy(_._1)
    assert(expected.length == 9 && expected.map(_._2).max == 8)
    withCheckpointDir { _ =>
      // after each job (≈ one per BFS round), drop EVERY cached block —
      // the mid-iteration executor-loss simulation: any round that leans
      // on a previous round's block cache instead of its checkpoint
      // files would fail to recompute (lineage is truncated)
      val killer = new SparkListener {
        override def onJobEnd(end: SparkListenerJobEnd): Unit =
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      spark.sparkContext.addSparkListener(killer)
      try {
        val got = Analytics.bfsHops(edges, seeds, maxHops = 8)
          .as[(String, Int)].collect().sortBy(_._1)
        assert(got.sameElements(expected),
          s"durable-mode result drifted: ${got.mkString(",")} vs ${expected.mkString(",")}")
      } finally spark.sparkContext.removeSparkListener(killer)
    }
  }

  test("dedupClusters in durable mode matches default mode (hash-identical rows)") {
    val pairs = Seq(
      ("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s"))
      .toDF("doc_a", "doc_b")
    val expected = graft.ops.Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      .as[(String, String)].collect().sortBy(identity)
    val got = withCheckpointDir { _ =>
      graft.ops.Dedup.dedupClusters(pairs, "doc_a", "doc_b")
        .as[(String, String)].collect().sortBy(identity)
    }
    assert(got.sameElements(expected))
  }
}
