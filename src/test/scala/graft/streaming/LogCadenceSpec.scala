package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.{JobRecorder, SparkSuite}
import graft.ingest.CommitLog

/** Every logged loop kind rebases its log on ONE fixed cadence: the
  * version that is a multiple of [[StreamIngest.LogCheckpointEvery]]
  * writes `<v>.ckpt`, whose live set is exactly the log replayed up to
  * it. Each kind's log is pre-aged to version 63 with files the loop
  * would have written, then one streamed batch publishes version 64. */
class LogCadenceSpec extends SparkSuite {
  import spark.implicits._

  private val kinds = new LoopKinds(spark)
  private val Cadence = StreamIngest.LogCheckpointEvery.toLong

  test("compactLogged leaves a checkpoint at the swap") {
    val out = Files.createTempDirectory("cadence-compact").toString
    val frame = (0L until 6L).map(o => (o % 2, o, s"v$o"))
      .toDF("part", "off", "payload")
    (0 until 3).foreach { b =>
      CommitLog.writeLogged(
        frame.filter(col("off").between(b * 2, b * 2 + 1)), out, "t", 1)
    }
    val v = CommitLog.compactLogged(spark, out, "t", targetRecords = 5)
    assert(CommitLog.fs(spark, out)
      .exists(new Path(s"$out/t/_commitlog/$v.ckpt")))
    assert(CommitLog.read(spark, out, "t").count() === 6)
  }

  kinds.all.foreach { kind =>
    test(s"${kind.name} loop checkpoints its log at version 64") {
      val out = Files.createTempDirectory(s"cadence-${kind.name}").toString
      val ckpt = Files.createTempDirectory("cadence-ckpt").toString
      kinds.ageTo(kind, out, Cadence - 1)
      val (s, q) = kinds.start(kind, out, ckpt)
      try {
        s.addData(kinds.rows(LoopKinds.FirstStreamed until
          LoopKinds.FirstStreamed + 4): _*)
        q.processAllAvailable()
      } finally q.stop()
      val root = kind.logRoot(out)
      val f = CommitLog.fs(spark, root)
      val log = s"$root/${kind.topic}/_commitlog"
      assert(CommitLog.latestVersion(spark, root, kind.topic) === Cadence)
      assert(f.exists(new Path(s"$log/$Cadence.ckpt")))
      assert(!f.exists(new Path(s"$log/${Cadence - 1}.ckpt")),
        "only the cadence version checkpoints")
      // the checkpoint IS the replayed log: every version here appends
      val (ckptV, base) = CommitLog.checkpointBase(spark, root, kind.topic)
      val published = (0L to Cadence).flatMap(v =>
        CommitLog.changesAt(spark, root, kind.topic, v)._1)
      assert(ckptV === Cadence)
      assert(base.toSet === published.toSet)
      assert(CommitLog.snapshot(spark, root, kind.topic).toSet ===
        published.toSet)
    }
  }

  test("plain loop: HEAD reads every record through the checkpoint") {
    val out = Files.createTempDirectory("cadence-read").toString
    val ckpt = Files.createTempDirectory("cadence-read-ckpt").toString
    kinds.ageTo(kinds.plain, out, Cadence - 1)
    val (s, q) = kinds.start(kinds.plain, out, ckpt)
    try {
      s.addData(kinds.rows(LoopKinds.FirstStreamed until
        LoopKinds.FirstStreamed + 5): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(CommitLog.read(spark, out, "t").count() === Cadence + 5)
    assert(CommitLog.maxOffsets(spark, out, "t") ===
      Map(0L -> (LoopKinds.FirstStreamed + 4), 1L -> (LoopKinds.FirstStreamed + 3)))
  }

  test("the cadence checkpoint is metadata-only: no extra Spark job") {
    val out = Files.createTempDirectory("cadence-jobs").toString
    val ckpt = Files.createTempDirectory("cadence-jobs-ckpt").toString
    kinds.ageTo(kinds.plain, out, Cadence - 1)
    val jobs = JobRecorder.during(spark) { r =>
      val (s, q) = kinds.start(kinds.plain, out, ckpt)
      try Seq(0L, 4L).foreach { from =>
        s.addData(kinds.rows((LoopKinds.FirstStreamed + from) until
          (LoopKinds.FirstStreamed + from + 4)): _*)
        q.processAllAvailable()
      } finally q.stop()
      r.perBatch(q).map(_.size)
    }
    assert(CommitLog.latestVersion(spark, out, "t") === Cadence + 1)
    // batch 0 published the checkpointed version 64, batch 1 version 65
    assert(jobs.size === 2 && jobs(0) === jobs(1), s"jobs per batch: $jobs")
  }
}
