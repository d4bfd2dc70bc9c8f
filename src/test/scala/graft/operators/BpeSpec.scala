package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent driver-side reference BPE (Sennrich et al.): word-freq
    * dict → repeat (count pairs, merge argmax with lexicographic ties).
    * Deliberately written from the paper, not from the operator under test.
    */
  private def referenceBpe(corpus: Seq[String], numMerges: Int)
      : Seq[(String, String)] = {
    var dict: Map[List[String], Long] = corpus
      .flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view
      .map { case (w, ws) =>
        (w.map(_.toString).toList :+ Bpe.EndMark) -> ws.size.toLong }
      .toMap
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += ((l, r))
        dict = dict.map { case (syms, n) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          syms.foreach { x =>
            if (out.nonEmpty && out.last == l && x == r)
              out(out.length - 1) = l + r
            else out += x
          }
          out.toList -> n
        }
      }
      i += 1
    }
    merges.result()
  }

  private val corpus = Seq(
    "low low low low low",
    "lower lower widest widest widest",
    "newest newest newest newest newest newest",
    "low lower newest")

  test("trainBpe learns exactly the reference merge sequence") {
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.trainBpe(Bpe.wordCounts(df, col("text")), numMerges = 12)
    val want = referenceBpe(corpus, numMerges = 12)
    assert(got === want)
    assert(got.length === 12) // this corpus has at least 12 merges in it
  }

  test("trainBpeLocal (incremental-count local trainer) is EXACTLY the " +
      "sequential reference, merge for merge") {
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dict = Bpe.wordCounts(df, col("text"))
    assert(Bpe.trainBpeLocal(dict, numMerges = 12)
      === referenceBpe(corpus, numMerges = 12))
    // early stop: exhausts the dictionary like the distributed trainer
    assert(Bpe.trainBpeLocal(dict, numMerges = 500)
      === referenceBpe(corpus, numMerges = 500))
  }

  test("trainBpeLocal tie-break matches the distributed trainer on non-BMP " +
      "symbols (UTF-8 byte order, not UTF-16 code-unit order)") {
    // counts tie at 1; U+FFFD sorts BEFORE the emoji in UTF-8 bytes
    // (EF BF BD < F0 9F 98 80) but AFTER it in UTF-16 code units
    // (� > \uD83D) — a String.compareTo tie-break would diverge here
    val dict = Seq(
      (1L, Seq("😀", "x")),
      (1L, Seq("�", "x"))).toDF("n", "syms")
    val dist = Bpe.trainBpe(dict, numMerges = 2)
    val local = Bpe.trainBpeLocal(dict, numMerges = 2)
    assert(dist === local)
    assert(dist.head === ("�", "x"))
  }

  test("trainBpe stops early when the dictionary is fully merged") {
    val df = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = Bpe.trainBpe(Bpe.wordCounts(df, col("text")), numMerges = 50)
    // "ab</w>" needs exactly 2 merges from (a,b,</w>), whatever their order
    assert(got.length === 2)
    assert(Bpe.applyMerges("ab", got) === Seq("ab" + Bpe.EndMark))
  }

  test("tokenizeCorpus matches per-word reference application, keeps " +
      "word order, and keeps empty docs") {
    val df = (corpus ++ Seq("")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = referenceBpe(corpus, numMerges = 8)
    val got = Bpe.tokenizeCorpus(df, col("doc_id"), col("text"), merges)
      .orderBy("id").as[(Long, Seq[String], Int)].collect()
    val want = (corpus ++ Seq("")).zipWithIndex.map { case (t, i) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => Bpe.applyMerges(w, merges))
      (i.toLong, toks, toks.length)
    }
    assert(got.toSeq === want)
    // a learned merge actually compresses: fewer tokens than characters
    val full = got.filter(_._2.nonEmpty)
    assert(full.forall { case (_, toks, n) => n == toks.length && n > 0 })
  }

  test("scale shape: training iterations never touch the corpus again") {
    // wordCounts output is the only input trainBpe sees — assert the
    // contract by feeding a dict built WITHOUT any DataFrame corpus
    val dict = Seq(("low", 5L), ("lower", 2L))
      .toDF("word", "n")
      .withColumn("syms",
        concat(filter(split(col("word"), ""), s => length(s) > 0),
          array(lit(Bpe.EndMark))))
    val merges = Bpe.trainBpe(dict, numMerges = 3)
    assert(merges === referenceBpe(
      Seq("low low low low low", "lower lower"), 3))
  }
}
