package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val boiler = (1 to 16).map(i => s"b$i").mkString(" ")

  test("cdcChunks: chunks tile the document exactly and boundaries are " +
      "content-defined (same text -> same chunks, any doc id)") {
    val words = new scala.util.Random(7)
      .shuffle((1 to 400).map(i => s"tok${i % 97}")).mkString(" ")
    val out = TextIndex.cdcChunks(
        Seq((1L, words), (2L, words)).toDF("id", "text"),
        col("id"), col("text"), shingleK = 3, maskBits = 4)
      .as[(Long, Int, Int, Int, String, Long)].collect()
    val byId = out.groupBy(_._1)
    // identical text => identical chunking regardless of id
    assert(byId(1L).map(t => (t._2, t._3, t._4, t._5)).toSeq ===
      byId(2L).map(t => (t._2, t._3, t._4, t._5)).toSeq)
    // chunks tile: starts/lengths cover [1, n] without gap or overlap,
    // and the concatenation reproduces the document
    val cs = byId(1L).sortBy(_._2)
    assert(cs.head._3 === 1)
    cs.sliding(2).foreach {
      case Array(a, b) => assert(b._3 === a._3 + a._4, s"gap at ${b._2}")
      case _ =>
    }
    assert(cs.map(_._4).sum === 400)
    assert(cs.map(_._5).mkString(" ") === words)
    assert(cs.length > 3, s"maskBits=4 over 400 tokens should split: ${cs.length}")
  }

  test("cdcChunks boundaries resist an insertion: only the edited chunk " +
      "changes, unlike fixed-stride windows where everything downstream shifts") {
    val base = (1 to 300).map(i => s"w${i * 31 % 101}x$i").mkString(" ")
    val baseToks = base.split(" ")
    // insert one token near the front
    val edited = (baseToks.take(5) :+ "INSERTED").++(baseToks.drop(5)).mkString(" ")
    def fps(text: String): Set[Long] = TextIndex.cdcChunks(
        Seq((1L, text)).toDF("id", "text"),
        col("id"), col("text"), shingleK = 3, maskBits = 4)
      .select(col("chunk_fp")).as[Long].collect().toSet
    val a = fps(base)
    val b = fps(edited)
    val shared = (a & b).size
    // every chunk whose window never sees the edit keeps its fingerprint;
    // only the chunk containing the insertion (and at most its neighbor,
    // if the edit lands near a boundary gram) may change
    assert(shared >= a.size - 2,
      s"CDC lost ${a.size - shared} of ${a.size} chunks to one insertion")
    assert(shared < a.size, "the edited chunk itself must change")
    // the fixed-stride comparison: same edit shifts every window after it
    def fixedFps(text: String): Set[Long] = TextIndex.chunks(
        Seq((1L, text)).toDF("id", "text"), col("id"), col("text"),
        window = 16, stride = 16)
      .select(graft.functions.TextFunctions.fingerprint64(col("chunk")))
      .as[Long].collect().toSet
    val fa = fixedFps(base)
    val fb = fixedFps(edited)
    assert((fa & fb).size <= 1, "fixed windows should lose ~all chunks")
  }

  test("cdcSegmentDedup removes OFFSET-SHIFTED boilerplate that " +
      "stride-aligned fixed windows miss entirely") {
    // a 96-token boilerplate passage, at offset 0 in doc 1 and offset 5
    // in doc 2 — fixed 16-token windows tile it differently in each doc
    val passage = (1 to 96).map(i => s"bp${i * 7 % 89}n$i").mkString(" ")
    val docs = Seq(
      (1L, passage + " " + (1 to 30).map(i => s"ua$i").mkString(" ")),
      (2L, (1 to 5).map(i => s"vb$i").mkString(" ") + " " + passage + " " +
        (1 to 30).map(i => s"vc$i").mkString(" "))
    ).toDF("id", "text")
    val cdc = TextIndex.cdcSegmentDedup(docs, col("id"), col("text"),
        shingleK = 3, maskBits = 4, maxDf = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // CDC: the passage's interior chunks fingerprint identically in both
    // docs (boundaries re-synchronize on content), so both docs lose
    // segments; the unique tails survive
    cdc.foreach { case (id, nSeg, nKept, clean) =>
      assert(nKept < nSeg, s"doc $id: CDC removed nothing")
    }
    assert(cdc(0)._4.contains("ua30"))
    assert(cdc(1)._4.contains("vc30"))
    // fixed windows: the 5-token offset misaligns every 16-token segment,
    // so no segment repeats across docs and nothing is removed
    val fixed = TextIndex.segmentDedup(docs, col("id"), col("text"),
        window = 16, maxDf = 1)
      .as[(Long, Long, Long, String)].collect()
    fixed.foreach { case (id, nSeg, nKept, _) =>
      assert(nKept === nSeg, s"doc $id: fixed windows should miss the shift")
    }
  }

  test("cdcChunks: short and empty docs yield one whole-text chunk") {
    val out = TextIndex.cdcChunks(
        Seq((1L, "a b"), (2L, "")).toDF("id", "text"),
        col("id"), col("text"), shingleK = 3, maskBits = 4)
      .as[(Long, Int, Int, Int, String, Long)].collect().sortBy(_._1)
    assert(out.length === 2)
    assert(out(0) ._2 === 1 && out(0)._3 === 1 && out(0)._4 === 2 &&
      out(0)._5 === "a b")
    assert(out(1)._2 === 1 && out(1)._4 === 0 && out(1)._5 === "")
  }

  test("segmentDedup removes cross-document boilerplate, keeps unique segments in order") {
    // docs 1 and 2 share an aligned 16-token boilerplate prefix; their tails differ
    val docs = Seq(
      (1L, boiler + " " + (1 to 16).map(i => s"u$i").mkString(" ")),
      (2L, boiler + " " + (1 to 16).map(i => s"v$i").mkString(" ")),
      (3L, (1 to 20).map(i => s"w$i").mkString(" "))
    ).toDF("id", "text")
    val out = TextIndex.segmentDedup(docs, col("id"), col("text"),
        window = 16, maxDf = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 2L)))
    assert(out(0)._4 === (1 to 16).map(i => s"u$i").mkString(" "))
    assert(out(2)._4 === (1 to 20).map(i => s"w$i").mkString(" "))
  }

  test("segmentDedup: a fully-duplicated doc empties to the empty string") {
    val docs = Seq((1L, boiler), (2L, boiler)).toDF("id", "text")
    val out = TextIndex.segmentDedup(docs, col("id"), col("text"), 16, 1)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.forall(r => r._2 === 1L && r._3 === 0L && r._4 === ""))
  }

  test("segmentDedup honors maxDf: df <= maxDf survives") {
    val docs = Seq((1L, boiler), (2L, boiler), (3L, "solo " * 15 + "solo"))
      .toDF("id", "text")
    val out = TextIndex.segmentDedup(docs, col("id"), col("text"), 16, 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // df=2 boilerplate now survives for docs 1 and 2
    assert(out(0)._4 === boiler && out(1)._4 === boiler)
  }

  test("vocabCoverage: coverage is the in-vocab occurrence fraction") {
    // 'a' dominates; vocab k=1 -> {a}
    val docs = Seq(
      (1L, "a a a a"),          // 4/4
      (2L, "a a x y"),          // 2/4
      (3L, "p q r s")           // 0/4
    ).toDF("id", "text")
    val out = TextIndex.vocabCoverage(docs, col("id"), col("text"), k = 1)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 4L, 4L, 1.0), (2L, 4L, 2L, 0.5), (3L, 4L, 0L, 0.0)))
  }

  test("vocabCoverage ties at the k boundary break by term, deterministically") {
    // b and c tie on frequency; k=2 vocab must be {a, b} (freq desc, term asc)
    val docs = Seq((1L, "a a a b b c c")).toDF("id", "text")
    val out = TextIndex.vocabCoverage(docs, col("id"), col("text"), k = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.head._3 === 5L) // 3×a + 2×b
  }

  test("bigramFamiliarity: corpus-common pairs counted exactly; short docs " +
      "survive with zeros") {
    val docs = Seq(
      (1L, "the cat sat"),   // bigrams: (the,cat), (cat,sat)
      (2L, "the cat ran"),   // (the,cat) shared with doc 1 → common
      (3L, "one"),           // no bigrams
      (4L, "")               // no tokens
    ).toDF("id", "text")
    val out = TextIndex.bigramFamiliarity(docs, col("id"), col("text"))
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    // (the,cat) occurs twice corpus-wide → freq 2 for both docs' copies
    assert(out(0) === ((1L, 2L, 3L, 1L, 0.5))) // freqs 2 + 1; one common
    assert(out(1) === ((2L, 2L, 3L, 1L, 0.5)))
    assert(out(2) === ((3L, 0L, 0L, 0L, 0.0)))
    assert(out(3) === ((4L, 0L, 0L, 0L, 0.0)))
  }

  test("backoffFamiliarity: common trigrams counted, uncommon ones back " +
      "off to their leading bigram; short docs report zeros") {
    val docs = Seq(
      (1L, "a b c d"),   // trigrams: (a b c), (b c d); bigrams a b, b c, c d
      (2L, "a b c e"),   // (a b c) common; (b c e) unique → backoff (b c) common
      (3L, "x y z w"),   // all trigrams unique, bigrams x y, y z, z w unique
      (4L, "p q")        // no trigrams → zeros
    ).toDF("id", "text")
    val out = TextIndex.backoffFamiliarity(docs, col("id"), col("text"))
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    // doc 1: (a b c) seen twice → common; (b c d) unique, backoff (b c)
    // appears in docs 1 and 2 → common backoff
    assert(out(0) === ((1L, 2L, 1L, 1L, (1.0 + 0.4 * 1.0) / 2.0)))
    assert(out(1) === ((2L, 2L, 1L, 1L, (1.0 + 0.4 * 1.0) / 2.0)))
    assert(out(2) === ((3L, 2L, 0L, 0L, 0.0)))
    assert(out(3) === ((4L, 0L, 0L, 0L, 0.0)))
  }

  test("lmPerplexityScreen: hand-checked integer bit costs, leave-one-out " +
      "common path vs one-bit unigram backoff; short docs keep with zeros") {
    // unigram counts: a=3 b=3 c=1 z=1, N=8; bigram counts: (a b)=3,
    // (b a)=1, (b c)=1; flog2: 1→0, 2→1, 3→1, 8→3
    val docs = Seq(
      (1L, "a b a b"), // (a b):1-1=0, (b a): 1+3-flog2(c1(a)=3)=3, (a b):0
      (2L, "a b c"),   // (a b):0, (b c): 1+3-flog2(c1(c)=1)=4
      (3L, "z"),       // no bigrams
      (4L, "")         // no tokens
    ).toDF("id", "text")
    val out = TextIndex.lmPerplexityScreen(docs, col("id"), col("text"),
        thresholdBits = 1.5)
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 3L, 3L, 1.0, true)))
    assert(out(1) === ((2L, 2L, 4L, 2.0, false)))
    assert(out(2) === ((3L, 0L, 0L, 0.0, true)))
    assert(out(3) === ((4L, 0L, 0L, 0.0, true)))
  }

  test("keywordTag: one Aho-Corasick pass counts ALL occurrences — " +
      "overlapping, nested-suffix, and cross-token phrases; misses emit " +
      "no row") {
    val docs = Seq(
      (1L, "aaa"),        // "aa" overlaps: positions 0 and 1
      (2L, "xabx"),       // "ab" and its suffix "b" both fire
      (3L, "a b c d"),    // phrase "b c" spans a token boundary
      (4L, "nothing here")
    ).toDF("id", "text")
    val out = TextIndex.keywordTag(docs, col("id"), col("text"),
        Seq("aa", "ab", "b", "b c"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2))
    assert(out.toSeq === Seq(
      (1L, "aa", 2L),
      (2L, "ab", 1L), (2L, "b", 1L),
      (3L, "b", 1L), (3L, "b c", 1L)))
  }

  test("vocabGrowth: first-seen terms charge their earliest bucket, " +
      "running vocabulary accumulates, empty docs hold their slice") {
    // 20 docs in the 10 deciles: two per bucket
    val docs = (Seq(
      (1L, "a b a"),   // bucket 1: new {a, b}
      (2L, "b c"),     // bucket 1: new {c}
      (3L, "a d"),     // bucket 2: new {d}
      (4L, "")         // bucket 2: no tokens
    ) ++ (5L to 20L).map(i => (i, "a"))).toDF("id", "text")
    val out = TextIndex.vocabGrowth(docs, col("id"), col("text"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length === 10)
    assert(out(0) === ((1, 2L, 5L, 3L, 3L)))
    assert(out(1) === ((2, 2L, 2L, 1L, 4L)))
    assert(out(9) === ((10, 2L, 2L, 0L, 4L)))
  }

  test("vocabGrowthSketchCuts: exact-regime cuts reproduce the NTILE " +
      "curve when the split divides evenly; single bucket degenerates " +
      "to the whole corpus") {
    // 20 docs, 10 buckets of 2 — the discrete-quantile cuts land exactly
    // on NTILE's boundaries, so both variants must agree bucket-for-bucket
    val docs = (1 to 20).map(i => (i.toLong, s"w$i shared")).toDF("id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val ntile = rows(TextIndex.vocabGrowth(docs, col("id"), col("text")))
    val kll = rows(TextIndex.vocabGrowthSketchCuts(docs, col("id"),
      col("text")))
    assert(ntile.length === 10)
    assert(kll === ntile)
    // a one-doc corpus fills a single bucket, which then holds the whole
    // corpus on both variants: 1 doc, 2 tokens, 2 new terms
    val one = docs.filter(col("id") === 1L)
    val whole = Seq((1, 1L, 2L, 2L, 2L))
    assert(rows(TextIndex.vocabGrowthSketchCuts(one, col("id"),
      col("text"))) === whole)
    assert(rows(TextIndex.vocabGrowth(one, col("id"), col("text"))) === whole)
  }

  test("cooccurrenceCounts: pairs within the window accumulate " +
      "canonically, self-pairs count, beyond-window pairs do not") {
    // "a b c a": window 2 → offsets 1: (a,b)(b,c)(a,c); 2: (a,c)(a,b)
    // canonical counts: (a,b)=2, (b,c)=1, (a,c)=2; NO (a,a) — the two
    // a's sit 3 apart, beyond the window
    val docs = Seq((1L, "a b c a"), (2L, "x x")).toDF("id", "text")
    val out = TextIndex.cooccurrenceCounts(docs, col("text"), window = 2,
        k = 10)
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out === Map(
      ("a", "b") -> 2L, ("a", "c") -> 2L, ("b", "c") -> 1L,
      ("x", "x") -> 1L))
    // widen the window to 3: the distance-3 (a, a) pair appears
    val out3 = TextIndex.cooccurrenceCounts(docs, col("text"), window = 3,
        k = 10)
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out3(("a", "a")) === 1L)
  }

  test("selfBleu: leave-one-out clipped precision — the unique max-holder " +
      "clips to the runner-up, co-max holders clip to the max, no-gram " +
      "docs report NULL") {
    val docs = Seq(
      // bigram "a b": d1 holds tf 2 (unique max), d2 tf 1 → d1's clip for
      // it is max-other = 1; d2's clip is min(1, 2) = 1
      (1L, "a b a b"),   // grams: (a b)x2, (b a)x1
      (2L, "a b c"),     // grams: (a b), (b c)
      (3L, "x"),         // no bigrams
      (4L, "b c b c")    // (b c)x2, (c b)x1
    ).toDF("id", "text")
    val out = TextIndex.selfBleu(docs, col("id"), col("text"))
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    // d1: (a b) tf2 unique-max → clip min(2, m2=1)=1; (b a) tf1 unique-max
    //     with NO runner-up → clip min(1, 0)=0 → 1/3
    // d2: (a b) clip min(1, 2)=1; (b c) clip min(1, 2)=1 → 2/2
    // d4: (b c) tf2 unique-max → clip 1; (c b) unique, no other → 0 → 1/3
    assert(out === Seq(
      (1L, 3L, 1L, Some(1.0 / 3.0)),
      (2L, 2L, 2L, Some(1.0)),
      (3L, 0L, 0L, None),
      (4L, 3L, 1L, Some(1.0 / 3.0))))
    // co-max: two docs with the same tf for the same gram clip at the max
    val co = Seq((1L, "q q q"), (2L, "q q q")).toDF("id", "text")
    val outCo = TextIndex.selfBleu(co, col("id"), col("text"))
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(outCo === Seq((1L, 2L, 2L, Some(1.0)), (2L, 2L, 2L, Some(1.0))))
  }

  test("selfBleu laws on a random corpus: precision in [0, 1], duplicating " +
      "the corpus drives every doc to 1.0, partitioning-independent") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val df = docs.toDF("id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextIndex.selfBleu(d, col("id"), col("text"))
        .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    val out = run(df)
    assert(out.forall(t => t._4.forall(p => p >= 0.0 && p <= 1.0)))
    assert(out.forall(t => t._3 <= t._2))
    assert(run(df.repartition(5)) === out)
    // give every doc an identical twin: each gram's max-other tf >= own tf
    // -> every clip saturates -> precision exactly 1.0 for gram-ful docs
    val twins = docs.map { case (i, t) => (i + 1000L, t) }
    val dup = run((docs ++ twins).toDF("id", "text"))
    assert(dup.forall(t => t._2 === 0L || t._4 === Some(1.0)))
  }

  test("rougeN: clipped bigram counts, hand recall/precision/F1, NULL " +
      "ratios only where a side has no n-grams") {
    val pairs = Seq(
      // ref bigrams: (a b)(b c)(c a)(a b) — (a b)×2; cand: (a b)(b x)(x a)
      // clipped match: min(2,1)=1 → m=1, n_ref=4, n_cand=3
      (1L, "a b c a b", "a b x a"),
      (2L, "a b", "z"),   // cand has no bigrams: recall 0, precision NULL
      (3L, "q", "q w")    // ref has no bigrams: recall NULL, precision 0
    ).toDF("pair_id", "r", "c")
    val out = TextIndex.rougeN(pairs, col("pair_id"), col("r"), col("c"),
        n = 2)
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1)
    assert(out(0) === ((1L, 4L, 3L, 1L, Some(0.25), Some(1.0 / 3.0),
      Some(2.0 / 7.0))))
    assert(out(1) === ((2L, 1L, 0L, 0L, Some(0.0), None, None)))
    assert(out(2) === ((3L, 0L, 1L, 0L, None, Some(0.0), None)))
  }

  test("rougeN: identical texts score perfect 1.0 everywhere") {
    val pairs = Seq((1L, "x y z w", "x y z w")).toDF("pair_id", "r", "c")
    val out = TextIndex.rougeN(pairs, col("pair_id"), col("r"), col("c"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(out === ((1L, 3L, 3L, 3L, Some(1.0), Some(1.0), Some(1.0))))
  }

  test("duplicateNgramProfile counts corpus-duplicated positional n-grams") {
    val docs = Seq(
      (1L, "a b c d e f g"),     // 3-grams: abc bcd cde def efg
      (2L, "x y a b c d w"),     // shares "a b c", "b c d" with doc 1
      (3L, "p q r"),             // one 3-gram, unique
      (4L, "s t")                // short doc → ONE whole-text gram
    ).toDF("id", "text")
    val out = TextIndex.duplicateNgramProfile(docs, col("id"), col("text"), n = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 5L, 2L, 0.4)))  // abc + bcd duplicated
    assert(out(1) === ((2L, 5L, 2L, 0.4)))
    assert(out(2) === ((3L, 1L, 0L, 0.0)))
    assert(out(3) === ((4L, 1L, 0L, 0.0)))
  }

  test("duplicateNgramMask removes covered tokens, keeps the rest in order") {
    val docs = Seq(
      (1L, "a b c d e f g"),     // dup grams at pos 0 (abc), 1 (bcd) → tokens 0..3 covered
      (2L, "x y a b c d w"),     // dup grams at pos 2, 3 → tokens 2..5 covered
      (3L, "p q r")              // untouched
    ).toDF("id", "text")
    val out = TextIndex.duplicateNgramMask(docs, col("id"), col("text"), n = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 7, 4, "e f g")))
    assert(out(1) === ((2L, 7, 4, "x y w")))
    assert(out(2) === ((3L, 3, 0, "p q r")))
  }

  test("duplicateNgramMask: a short doc duplicated whole empties out") {
    val docs = Seq(
      (1L, "s t"), (2L, "s t"),  // whole-text gram duplicated → all covered
      (3L, "u v")
    ).toDF("id", "text")
    val out = TextIndex.duplicateNgramMask(docs, col("id"), col("text"), n = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 2, 2, "")))
    assert(out(1) === ((2L, 2, 2, "")))
    assert(out(2) === ((3L, 2, 0, "u v")))
  }

  test("exactSubstrDedup keeps the globally first occurrence of a " +
      "duplicated span, removes the rest (cross-doc and within-doc)") {
    val docs = Seq(
      (1L, "a b c d e f"),       // first occurrence of "a b c" (pos 0) kept
      (2L, "x y a b c z"),       // later occurrence at pos 2 → tokens 2..4 removed
      (3L, "p q r p q r p"),     // within-doc repeats: "p q r" (pos 0 kept,
                                 // 3 removed) AND "q r p" (1 kept, 4 removed)
                                 // → tokens 3..6 covered
      (4L, "s t")                // shorter than n: never masked, even if duplicated
    ).toDF("id", "text")
    val out = TextIndex.exactSubstrDedup(docs, col("id"), col("text"), n = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 6, 0, "a b c d e f")))
    assert(out(1) === ((2L, 6, 3, "x y z")))
    assert(out(2) === ((3L, 7, 4, "p q r")))
    assert(out(3) === ((4L, 2, 0, "s t")))
  }

  test("exactSubstrDedup: short duplicate docs carry no span — whole-doc " +
      "dedup is Dedup's job") {
    val docs = Seq((1L, "s t"), (2L, "s t")).toDF("id", "text")
    val out = TextIndex.exactSubstrDedup(docs, col("id"), col("text"), n = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 2, 0, "s t"), (2L, 2, 0, "s t")))
  }

  test("crossSubstrContamination counts train span positions that occur " +
      "verbatim in eval; short docs report clean") {
    val train = Seq(
      (1L, "a b c d e"),   // spans: "a b c","b c d","c d e" — one in eval
      (2L, "x y"),         // shorter than n: zero spans, clean
      (3L, "q q q q")      // both spans hit eval's "q q q" (per-position count)
    ).toDF("id", "text")
    val eval = Seq((10L, "z b c d w"), (11L, "q q q")).toDF("id", "text")
    val out = TextIndex.crossSubstrContamination(
        train, col("id"), col("text"), eval, col("text"), n = 3)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, 3L, 1L, true), (2L, 0L, 0L, false),
      (3L, 2L, 2L, true)))
  }

  test("crossSubstrContamination law: screened against itself, every span " +
      "of every long-enough doc is contaminated (n_contam == n_spans)") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "h i"), (3L, "j k l"))
      .toDF("id", "text")
    val out = TextIndex.crossSubstrContamination(
        docs, col("id"), col("text"), docs, col("text"), n = 3)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out.forall(r => r._3 === r._2))
    assert(out.forall(r => r._4 === (r._2 > 0)))
  }

  test("crossSubstrContamination: disjoint corpora report everything clean") {
    val train = Seq((1L, "a b c d")).toDF("id", "text")
    val eval = Seq((9L, "e f g h")).toDF("id", "text")
    val out = TextIndex.crossSubstrContamination(
        train, col("id"), col("text"), eval, col("text"), n = 3)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out === Seq((1L, 2L, 0L, false)))
  }

  test("postingsIncremental: batch docs replace their state postings, " +
      "untouched docs carry over, and the result equals a clean rebuild") {
    val v1 = Seq((1L, "a a b"), (2L, "c d")).toDF("doc_id", "text")
    val v2docs = Seq((2L, "x y y"), (3L, "z")).toDF("doc_id", "text")
    val state = TextIndex.postings(v1, col("doc_id"), col("text"))
    val out = TextIndex.postingsIncremental(state, v2docs,
        col("doc_id"), col("text"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val rebuilt = TextIndex.postings(
        Seq((1L, "a a b"), (2L, "x y y"), (3L, "z")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(out === rebuilt)
    assert(out.contains((2L, "y", 2L)) && !out.exists(t => t._1 == 2L && t._2 == "c"))
    // empty batch: state passes through unchanged
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out2 = TextIndex.postingsIncremental(state, empty,
        col("doc_id"), col("text"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(out2 === state.as[(Long, String, Long)].collect()
      .sortBy(t => (t._1, t._2)).toSeq)
    // a doc re-ingested with EMPTY text loses its stale postings (the
    // replace-key set comes from batch IDS, not batch postings — a blank
    // doc has no posting rows but still tombstones its state entries)
    val blanked = TextIndex.postingsIncremental(state,
        Seq((2L, "")).toDF("doc_id", "text"), col("doc_id"), col("text"))
      .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(blanked === Seq((1L, "a", 2L), (1L, "b", 1L)),
      s"stale postings of the emptied doc must be dropped: $blanked")
  }

  test("postingsIncremental invariant: ANY seeded random batch sequence " +
      "folds to exactly the latest-version rebuild (re-ingests, blanks, " +
      "new docs interleaved)") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    def randText(): String =
      if (rnd.nextInt(6) == 0) "" // occasional blank re-ingest
      else Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    for (trial <- 1 to 3) {
      val batches = Seq.fill(4)(
        Seq.fill(1 + rnd.nextInt(5))((rnd.nextInt(8).toLong, randText()))
          // one version of a doc per batch (last write in the batch wins
          // is NOT part of the contract; dedupe within the batch)
          .groupBy(_._1).map(_._2.last).toSeq)
      val folded = batches.foldLeft(
        TextIndex.postings(Seq.empty[(Long, String)].toDF("doc_id", "text"),
          col("doc_id"), col("text"))) { (st, b) =>
        TextIndex.postingsIncremental(st, b.toDF("doc_id", "text"),
          col("doc_id"), col("text"))
      }.as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      val latest = batches.flatten.zipWithIndex
        .groupBy(_._1._1).map(_._2.maxBy(_._2)._1).toSeq // last version wins
      val rebuilt = TextIndex.postings(latest.toDF("doc_id", "text"),
          col("doc_id"), col("text"))
        .as[(Long, String, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
      assert(folded === rebuilt, s"trial $trial: fold != rebuild")
    }
  }

  test("keywordExtract: hand tf/df lift, distinctive beats frequent, " +
      "ties break by term, blank docs count toward N but emit nothing") {
    val docs = Seq(
      (1L, "the the the rare"),
      (2L, "the common common"),
      (3L, "the common unique"),
      (4L, "   ")) // blank: in N, no keywords
      .toDF("doc_id", "text")
    val got = TextIndex.keywordExtract(docs, col("doc_id"), col("text"),
        k = 2)
      .as[(Long, Int, String, Long, Long, Double)].collect().toSeq
    // N = 4 (blank included). df: the=3, common=2, rare=1, unique=1
    // doc1: rare tf=1 -> 1*4/1 = 4; the tf=3 -> 3*4/3 = 4; TIE -> rare first
    assert(got.filter(_._1 == 1L) === Seq(
      (1L, 1, "rare", 1L, 1L, 4.0), (1L, 2, "the", 3L, 3L, 4.0)))
    // doc2: common tf=2 -> 2*4/2 = 4 beats the tf=1 -> 4/3
    assert(got.filter(_._1 == 2L).map(_._3) === Seq("common", "the"))
    // doc3: unique 1*4/1=4 beats common 4/2=2 beats the 4/3 (k=2 cuts it)
    assert(got.filter(_._1 == 3L).map(_._3) === Seq("unique", "common"))
    assert(got.filter(_._1 == 4L).isEmpty)
  }

  test("vocabRichness: hand counts per source, hapax and type-token " +
      "ratios, blank-only sources absent") {
    val docs = Seq(
      ("clean", "a a b"), ("clean", "a c"),
      ("noisy", "x1 x2 x3 x3"),
      ("blank", "  "))
      .toDF("source", "text")
    val got = TextIndex.vocabRichness(docs, col("source"), col("text"))
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // clean: tokens a,a,b,a,c -> n=5, vocab=3 (a=3,b=1,c=1), hapax=2
    // noisy: x1,x2,x3,x3 -> n=4, vocab=3, hapax=2
    assert(got === Seq(
      ("clean", 5L, 3L, 2L, 2.0 / 3.0, 3.0 / 5.0),
      ("noisy", 4L, 3L, 2L, 2.0 / 3.0, 3.0 / 4.0)))
  }

  test("vocabRichness flags the noisy-OCR shape: unique-garbage text " +
      "has a hapax ratio near 1, template text near 0") {
    val template = (1 to 50).map(i => ("tmpl", "buy now limited offer"))
    val ocr = (1 to 50).map(i => ("ocr", s"w${i}a w${i}b w${i}c"))
    val got = TextIndex.vocabRichness((template ++ ocr)
        .toDF("source", "text"), col("source"), col("text"))
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(got("ocr") === 1.0)
    assert(got("tmpl") === 0.0)
  }

  test("charNgramProfile: hand trigram counts per source, count-desc " +
      "then gram tiebreak, k cuts the tail, short docs contribute " +
      "nothing") {
    val docs = Seq(
      ("s1", "ababa"),   // aba x2 (positions 1,3), bab x1
      ("s1", "abaft"),   // aba, baf, aft
      ("s1", "x"),       // too short: no grams
      ("s2", "zzzz"))    // zzz x2
      .toDF("source", "text")
    val got = TextIndex.charNgramProfile(docs, col("source"), col("text"),
        n = 3, k = 2)
      .as[(String, Int, String, Long)].collect().toSeq
    // s1 totals: aba=3 (2 from "ababa" + 1 from "abaft"), aft=1, bab=1,
    // baf=1 — the n=1 tie breaks on gram, so rank 2 is "aft"
    assert(got === Seq(
      ("s1", 1, "aba", 3L), ("s1", 2, "aft", 1L),
      ("s2", 1, "zzz", 2L)))
  }

  test("corpusDivergence: identical corpora diverge 0, disjoint corpora " +
      "hit the Hellinger = TV = 1 extremes exactly") {
    val a = Seq("x y z", "x x").toDF("text")
    val same = TextIndex.corpusDivergence(a, col("text"), a, col("text"))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(same === ((3L, 3L, 3L, 5L, 5L, 0.0, 0.0)))
    val b = Seq("p q", "p p").toDF("text")
    val c = Seq("r s", "r r").toDF("text")
    val disj = TextIndex.corpusDivergence(b, col("text"), c, col("text"))
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(disj._3 === 0L)
    assert(disj._6 === 1.0 && disj._7 === 1.0)
  }

  test("persisted index: save/loadVerified round-trips the exact posting " +
      "multiset; the digest is order/partitioning-free; a STALE saved " +
      "index is detected against a fresh corpus build; corrupted files " +
      "fail the load audit") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxstore").toString
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "")).toDF("id", "text")
    val idx = TextIndex.postings(docs, col("id"), col("text"))
    val m = TextIndex.saveIndex(idx, dir, corpusSize = 3L)
    assert(m.nPostings === 4L && m.nDocs === 2L && m.corpusSize === 3L)
    val (loaded, m2) = TextIndex.loadIndexVerified(spark, dir)
    assert(m2 === m)
    assert(loaded.as[(Long, String, Long)].collect().sorted.toSeq ===
      idx.as[(Long, String, Long)].collect().sorted.toSeq)
    // digest invariance: any repartition/reorder of the same rows
    // digests identically — the manifest survives compaction
    assert(TextIndex.indexDigest(idx.repartition(7), 3L) === m)
    assert(TextIndex.indexDigest(
      idx.orderBy(col("term"), col("doc_id").desc), 3L) === m)
    // staleness: fold in a new batch — the fresh build's digest diverges
    // from the saved manifest, which is exactly the pre-serve check
    val batch = Seq((2L, "c c d")).toDF("id", "text")
    val fresh = TextIndex.postingsIncremental(idx, batch,
      col("id"), col("text"))
    assert(TextIndex.indexDigest(fresh, 3L) !== m)
    // ...and re-saving the fold restores a servable, verified index
    val m3 = TextIndex.saveIndex(fresh, dir, corpusSize = 3L)
    assert(TextIndex.loadIndexVerified(spark, dir)._2 === m3)
    // corruption: extra rows landing in the LIVE posting dir after the
    // save (a torn concurrent write) must fail the audit loudly
    Seq((99L, "zz", 1L)).toDF("doc_id", "term", "tf")
      .write.mode("append")
      .parquet(s"${TextIndex.liveDir(spark, dir)}/postings")
    val e = intercept[IllegalArgumentException] {
      TextIndex.loadIndexVerified(spark, dir)
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("persisted index format version: the manifest carries the layout " +
      "version and load REFUSES a mismatch — a future layout change " +
      "surfaces as an explicit re-index, never as silently misread " +
      "postings") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxver").toString
    val idx = TextIndex.postings(
      Seq((1L, "a b a"), (2L, "b c")).toDF("id", "text"),
      col("id"), col("text"))
    val m = TextIndex.saveIndex(idx, dir, corpusSize = 2L)
    assert(m.formatVersion === TextIndex.IndexFormatVersion)
    // simulate state written by a build with a bumped layout version —
    // rewritten INSIDE the live committed generation, the dir a real
    // upgrade would leave behind
    val live = TextIndex.liveDir(spark, dir)
    val rows = spark.read.parquet(s"$live/manifest")
      .withColumn("formatVersion", lit(999)).collect()
    val schema = spark.read.parquet(s"$live/manifest").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq), schema)
      .write.mode("overwrite").parquet(s"$live/manifest")
    val e = intercept[IllegalArgumentException] {
      TextIndex.loadIndex(spark, dir)
    }
    assert(e.getMessage.contains("format version 999"))
    // the verified load sits on top of the same gate
    intercept[IllegalArgumentException] {
      TextIndex.loadIndexVerified(spark, dir)
    }
    // the RECOVERY path (r19 verdict #7): a refused index is rebuilt by
    // one explicit saveIndex — the new committed generation supersedes
    // the version-999 one and verified serving resumes
    val m2 = TextIndex.saveIndex(idx, dir, corpusSize = 2L)
    val (_, m3) = TextIndex.loadIndexVerified(spark, dir)
    assert(m3 === m2 && m3.formatVersion === TextIndex.IndexFormatVersion)
    // a PRE-versioning manifest (no formatVersion column at all) must hit
    // the same documented refusal, not an encoder AnalysisException
    val live2 = TextIndex.liveDir(spark, dir)
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map(r => org.apache.spark.sql.Row(
            r.getLong(schema.fieldIndex("nPostings")),
            r.getLong(schema.fieldIndex("nDocs")),
            r.getLong(schema.fieldIndex("corpusSize")),
            r.getLong(schema.fieldIndex("digest")))).toSeq),
        org.apache.spark.sql.types.StructType(
          schema.filterNot(_.name == "formatVersion")))
      .write.mode("overwrite").parquet(s"$live2/manifest")
    val e2 = intercept[IllegalArgumentException] {
      TextIndex.loadIndex(spark, dir)
    }
    assert(e2.getMessage.contains("<missing>"))
  }

  test("saveIndex self-overwrite: re-saving an index whose postings were " +
      "loadIndex-ed from the SAME directory (the incremental steady " +
      "state) writes a fresh generation instead of deleting its own " +
      "input mid-write (ADVICE r18), and superseded generations are " +
      "pruned") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxself").toString
    val idx = TextIndex.postings(
      Seq((1L, "a b a"), (2L, "b c")).toDF("id", "text"),
      col("id"), col("text"))
    TextIndex.saveIndex(idx, dir, corpusSize = 2L)
    // load -> fold a batch -> save into the directory the plan reads
    val (loaded, _) = TextIndex.loadIndex(spark, dir)
    val fresh = TextIndex.postingsIncremental(loaded,
      Seq((3L, "c d")).toDF("id", "text"), col("id"), col("text"))
    val m2 = TextIndex.saveIndex(fresh, dir, corpusSize = 3L)
    val (served, m3) = TextIndex.loadIndexVerified(spark, dir)
    assert(m3 === m2 && m3.nDocs === 3L)
    assert(served.as[(Long, String, Long)].collect().sorted.toSeq ===
      TextIndex.postings(
        Seq((1L, "a b a"), (2L, "b c"), (3L, "c d")).toDF("id", "text"),
        col("id"), col("text"))
        .as[(Long, String, Long)].collect().sorted.toSeq)
    // and the DIRECT identity re-save (no fold) also works
    val (again, _) = TextIndex.loadIndex(spark, dir)
    assert(TextIndex.saveIndex(again, dir, corpusSize = 3L) === m2)
    // superseded generations are pruned: exactly one committed gen left
    val children = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(children.count(_.startsWith("gen-")) === 1,
      s"superseded generations must be pruned, found: ${children.toSeq}")
  }

  test("committed-generation save (ADVICE r19): a crash BEFORE the " +
      "commit marker leaves the previous generation serving (torn " +
      "postings+manifest combinations are unaddressable by " +
      "construction), and the next save numbers past the torn dir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idxgen").toString
    val idx = TextIndex.postings(
      Seq((1L, "a b a"), (2L, "b c")).toDF("id", "text"),
      col("id"), col("text"))
    val m1 = TextIndex.saveIndex(idx, dir, corpusSize = 2L)
    val live1 = TextIndex.liveDir(spark, dir)
    // simulate a save that crashed after FULLY writing both components
    // but before creating _COMMITTED — under the old two-rename swap
    // this was the window that served new postings under the old
    // manifest; now the whole generation is simply invisible
    val torn = s"$dir/gen-000099"
    val other = TextIndex.postings(
      Seq((7L, "x y")).toDF("id", "text"), col("id"), col("text"))
    other.write.mode("overwrite").parquet(s"$torn/postings")
    spark.read.parquet(s"$live1/manifest").write.mode("overwrite")
      .parquet(s"$torn/manifest")
    assert(TextIndex.liveDir(spark, dir) === live1,
      "an uncommitted generation must not be served")
    val (_, mServed) = TextIndex.loadIndexVerified(spark, dir)
    assert(mServed === m1)
    // the next save supersedes the torn dir (numbers past it, prunes it)
    val m2 = TextIndex.saveIndex(other, dir, corpusSize = 1L)
    assert(TextIndex.loadIndexVerified(spark, dir)._2 === m2)
    assert(!new java.io.File(torn).exists(),
      "a superseded torn generation must be pruned by the next save")
  }

  test("indexDigest laws: XOR-homomorphic over disjoint shards (shard " +
      "manifests combine without a rescan) and sensitive to a single " +
      "changed tf") {
    val a = TextIndex.postings(
      Seq((1L, "a b a"), (2L, "b c")).toDF("id", "text"),
      col("id"), col("text"))
    val b = TextIndex.postings(
      Seq((10L, "x y"), (11L, "y z z")).toDF("id", "text"),
      col("id"), col("text"))
    val da = TextIndex.indexDigest(a, 2L)
    val db = TextIndex.indexDigest(b, 2L)
    val du = TextIndex.indexDigest(a.unionByName(b), 4L)
    // disjoint shards: counts add, digests XOR — per-shard manifests can
    // be folded into a corpus manifest with no second pass
    assert(du.nPostings === da.nPostings + db.nPostings)
    assert(du.nDocs === da.nDocs + db.nDocs)
    assert(du.digest === (da.digest ^ db.digest))
    // one tf changed by one => a different digest (row identity, not
    // just shape, is covered)
    val tweaked = a.withColumn("tf",
      when(col("doc_id") === 1L && col("term") === "a", col("tf") + 1L)
        .otherwise(col("tf")))
    assert(TextIndex.indexDigest(tweaked, 2L).digest !== da.digest)
  }
}
