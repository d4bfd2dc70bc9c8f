package graft

import java.nio.file.Files
import java.time.Duration

import org.apache.spark.sql.functions._

class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "a b c a b", 0L), (1L, "a b c d e", 1L), (2L, "x y z x y", 0L),
    (3L, "a b c d e", 0L), (4L, "p q r s t", 1L)
  ).toDF("doc_id", "text", "split")

  test("back-to-back pinning operators hold storage until unpinAll " +
      "releases it at the materialization boundary") {
    Pins.unpinAll() // drain pins left behind by earlier suites
    val bleu = operators.TextIndex.selfBleu(docs, col("doc_id"), col("text"))
    assert(bleu.count() === 5)
    val leak = operators.Diagnostics.splitLeakReport(
      docs, col("split"), col("text"))
    val leakRows = leak.collect()
    // docs 1 and 3 are exact duplicates across splits 1 and 0
    assert(leakRows.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((0L, 1L)))
    // both operators' internal frames are still pinned (the back-to-back
    // accumulation the Runner-level release exists to stop)
    assert(Pins.livePinCount >= 2)
    assert(Pins.unpinAll() >= 2)
    assert(Pins.livePinCount === 0)
    // released pins only cost recompute — results stay correct
    assert(bleu.count() === 5)
    assert(leak.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((0L, 1L)))
  }

  test("Runner releases engine pins after every tick") {
    Pins.unpinAll()
    val journal = new engine.Journal(spark,
      Files.createTempDirectory("graft-pins-journal").toString + "/j")
    val runner = new engine.Runner(spark, journal)
    runner.register(engine.Job("bleu", Duration.ZERO, s =>
      operators.TextIndex.selfBleu(docs, col("doc_id"), col("text")).count()))
    runner.register(engine.Job("boom", Duration.ZERO, s => {
      operators.Diagnostics.splitLeakReport(docs, col("split"), col("text"))
        .count()
      throw new RuntimeException("job failed AFTER pinning")
    }))
    val results = runner.runOnce().toMap
    assert(results === Map("bleu" -> "SUCCEED", "boom" -> "FAILED"))
    // pins are freed after the tick — the failing job's too
    assert(Pins.livePinCount === 0)
  }

  test("Runner-loop soak: N ticks of pinning jobs plus a NearDupState " +
      "bootstrap-per-tick job leave zero live pins and no stacked state " +
      "caches after every tick — the end-to-end Pins contract") {
    import org.apache.spark.storage.StorageLevel
    Pins.unpinAll()
    val journal = new engine.Journal(spark,
      Files.createTempDirectory("graft-soak-journal").toString + "/j")
    val runner = new engine.Runner(spark, journal)
    // track every tick's bootstrap cache so the spec can assert the
    // SPECIFIC frames were freed (never the global persistent-RDD count —
    // suites share the session; the round-13 lesson)
    val bootCaches = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    runner.register(engine.Job("pinning-op", Duration.ZERO, s =>
      operators.TextIndex.selfBleu(docs, col("doc_id"), col("text")).count()))
    runner.register(engine.Job("neardup-bootstrap", Duration.ZERO, s => {
      // the caller-owned pattern: bootstrap, use, CLOSE — without close()
      // each tick would stack one MEMORY_AND_DISK signature frame
      val st = operators.Dedup.NearDupState.build(
        docs, col("doc_id"), col("text"))
      st.cached.foreach(bootCaches += _)
      val n = st.bands.count() + st.postings.count()
      st.close()
      n
    }))
    val ticks = 5
    (1 to ticks).foreach { i =>
      val results = runner.runOnce().toMap
      assert(results.values.forall(_ == "SUCCEED"), s"tick $i: $results")
      assert(Pins.livePinCount === 0, s"live pins after tick $i")
      // every bootstrap cache created SO FAR is released — storage is
      // stable tick over tick, not stacking
      bootCaches.foreach(c =>
        assert(c.storageLevel === StorageLevel.NONE,
          s"tick $i left a bootstrap cache pinned"))
    }
    assert(bootCaches.size === ticks) // the job genuinely cached per tick
  }
}
