package graft.streaming

import java.nio.file.Files

import graft.{JobRecorder, SparkSuite}

/** Spark jobs per micro-batch of plain `startLogged` and of every
  * admission gate over the same input: two batches of six novel
  * records on a fresh topic. A gate costs the base loop's jobs plus
  * its own probe and install — never an `isEmpty` probe of the
  * admitted batch, since an empty manifest is the loop's whole guard.
  * The one `isEmpty` left is the blocklist gate's guard on its
  * bloom-flagged sliver, which skips the full-list verify scan. */
class LoopJobCountSpec extends SparkSuite {

  private val kinds = new LoopKinds(spark)

  /** Pinned jobs per batch (batch 0 on an empty topic, batch 1 on a
    * committed one). With AQE every shuffle stage, broadcast build and
    * first read of a cached frame is its own job, so the counts are of
    * that granularity. */
  private val expected = Map(
    "plain" -> Seq(8, 9),
    "exact-dedup" -> Seq(20, 22),
    "minhash" -> Seq(13, 15),
    "embedding" -> Seq(8, 14),
    "blocklist" -> Seq(13, 12),
    "quality" -> Seq(8, 9),
    "cardinality" -> Seq(10, 11))

  kinds.gated.foreach { kind =>
    test(s"${kind.name} loop: pinned jobs per batch, no isEmpty probe") {
      val out = Files.createTempDirectory(s"jobs-${kind.name}").toString
      val ckpt = Files.createTempDirectory("jobs-ckpt").toString
      val perBatch = JobRecorder.during(spark) { r =>
        val (s, q) = kinds.start(kind, out, ckpt)
        try Seq(0L, 6L).foreach { from =>
          s.addData(kinds.rows((LoopKinds.FirstStreamed + from) until
            (LoopKinds.FirstStreamed + from + 6)): _*)
          q.processAllAvailable()
        } finally q.stop()
        r.perBatch(q)
      }
      // isEmpty actions per batch (one action may run several jobs)
      val probes = perBatch.map(_.filter(_.action == "isEmpty")
        .flatMap(_.executionId).distinct.size)
      if (kind.name == "blocklist")
        assert(probes.forall(_ == 1),
          s"only the flagged-sliver guard may probe: $probes")
      else assert(probes.forall(_ == 0), s"isEmpty probes per batch: $probes")
      assert(perBatch.map(_.size) === expected(kind.name),
        s"jobs per batch: ${perBatch.map(_.map(_.action))}")
    }
  }
}
