package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AugmentSpec extends SparkSpec {
  import spark.implicits._

  test("wordDropout: deterministic across runs and partitionings, drops " +
      "roughly 1/rate, preserves surviving token order") {
    val docs = (1L to 50L)
      .map(i => (i, (1 to 40).map(j => s"w${(i + j) % 17}").mkString(" ")))
      .toDF("id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Augment.wordDropout(d, col("id"), col("text"))
        .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    val a = run(docs)
    assert(a === run(docs.repartition(7)), "must not depend on partitioning")
    val totTok = a.map(_._2.toLong).sum
    val totDrop = a.map(_._3.toLong).sum
    assert(totDrop > 0 && totDrop < totTok / 5,
      s"expected ~10% dropout, got $totDrop/$totTok")
    // order preserved: the augmented text is a subsequence of the original
    a.foreach { case (id, _, _, aug) =>
      val orig = docs.filter(col("id") === id)
        .select(col("text")).as[String].head().split("\\s+").toList
      val kept = if (aug.isEmpty) Nil else aug.split(" ").toList
      def isSubseq(s: List[String], of: List[String]): Boolean = (s, of) match {
        case (Nil, _) => true
        case (_, Nil) => false
        case (x :: xs, y :: ys) =>
          if (x == y) isSubseq(xs, ys) else isSubseq(s, ys)
      }
      assert(isSubseq(kept, orig), s"doc $id: not a subsequence")
    }
  }

  test("wordDropout: a position's fate depends on doc, position, and " +
      "token — the same token at different positions can differ") {
    // identical tokens: fates vary by position only via the hash
    val docs = Seq((7L, ("x " * 200).trim)).toDF("id", "text")
    val out = Augment.wordDropout(docs, col("id"), col("text"))
      .as[(Long, Int, Int, String)].collect().head
    assert(out._2 === 200)
    assert(out._3 > 0 && out._3 < 200,
      s"positional hashing must drop SOME of identical tokens: ${out._3}")
  }

  test("native WordDropoutKeep is bit-identical to the declarative " +
      "md5 higher-order filter it replaced, on random inputs") {
    val rnd = new scala.util.Random(31)
    val docs = (1L to 60L).map { i =>
      (i, (0 until rnd.nextInt(60)).map(_ => s"t${rnd.nextInt(40)}")
        .mkString(" "))
    }.toDF("id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(
      rows(Augment.wordDropout(docs, col("id"), col("text"))) ===
      rows(Augment.wordDropoutHof(docs, col("id"), col("text"),
        Augment.DropoutRate, Augment.DropoutSeed)))
  }

  test("spanCorruption: sentinels are numbered in order, the target " +
      "closes with the final sentinel, and substituting each sentinel's " +
      "target span back into the input reconstructs the document exactly") {
    val rnd = new scala.util.Random(17)
    val docs = (1L to 40L).map { i =>
      (i, (0 until 5 + rnd.nextInt(60)).map(_ => s"w${rnd.nextInt(30)}")
        .mkString(" "))
    }.toDF("id", "text")
    val out = Augment.spanCorruption(docs, col("id"), col("text"))
      .as[(Long, Int, Int, Int, String, String)].collect().sortBy(_._1)
    val orig = docs.as[(Long, String)].collect().toMap
    def isSentinel(t: String) = t.startsWith("<extra_id_")
    var sawMask = false
    out.foreach { case (id, nTok, nMasked, nSpans, input, target) =>
      val inToks = if (input.isEmpty) Array.empty[String] else input.split(" ")
      val tgToks = target.split(" ")
      // target ends with the closing sentinel
      assert(tgToks.last === s"<extra_id_$nSpans>", s"doc $id")
      // split the target into spans keyed by sentinel
      val spans = scala.collection.mutable.Map.empty[String, List[String]]
      var cur: String = null
      tgToks.dropRight(1).foreach { t =>
        if (isSentinel(t)) { cur = t; spans(cur) = Nil }
        else spans(cur) = spans(cur) :+ t
      }
      assert(spans.keys.toSet ===
        (0 until nSpans).map(k => s"<extra_id_$k>").toSet, s"doc $id")
      assert(spans.values.map(_.size).sum === nMasked, s"doc $id")
      // reconstruct
      val rebuilt = inToks.flatMap(t =>
        if (isSentinel(t)) spans(t) else List(t)).mkString(" ")
      assert(rebuilt === orig(id), s"doc $id reconstruction")
      assert(inToks.count(isSentinel) === nSpans, s"doc $id")
      if (nSpans > 0) sawMask = true
    }
    assert(sawMask, "fixture must exercise masking")
    // deterministic under repartitioning
    val out2 = Augment.spanCorruption(docs.repartition(9), col("id"),
        col("text"))
      .as[(Long, Int, Int, Int, String, String)].collect().sortBy(_._1)
    assert(out.toSeq === out2.toSeq)
  }

  test("spanCorruption: blank docs emit empty input and the bare closing " +
      "sentinel") {
    val out = Augment.spanCorruption(Seq((1L, "")).toDF("id", "text"),
        col("id"), col("text"))
      .as[(Long, Int, Int, Int, String, String)].collect().head
    assert(out === ((1L, 0, 0, 0, "", "<extra_id_0>")))
  }

  test("wordDropout: empty and blank docs survive with zeros") {
    val docs = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    val out = Augment.wordDropout(docs, col("id"), col("text"))
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 0, 0, ""), (2L, 0, 0, "")))
  }
}
