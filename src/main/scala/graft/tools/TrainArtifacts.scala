package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.queries.T

/** Regenerates the PINNED trained artifacts inlined in
  * [[graft.queries.Pipeline]] (`IvfCentroids16`, `BpeMerges16` and their SQL
  * literal twins): 16 k-means|| IVF centroids over the sf0.01 embeddings and
  * 16 BPE merges over the sf0.01 documents dictionary.
  *
  * Training loops (k-means iterations, per-merge argmax) are not
  * SQL-replayable, so the registry queries `sim_ivf_trained` /
  * `bpe_tokenize` inject the artifacts as literal frames instead of training
  * at query time — the POST-training math (assignment, probing, greedy merge
  * application) is exact and hash-checked against DuckDB at every scale,
  * while training itself stays gated by SimilaritySpec/BpeSpec. Run this
  * main to re-derive the literals from the fixtures:
  *
  * {{{ sbt "runMain graft.tools.TrainArtifacts /root/testdata/sf0.01" }}}
  */
object TrainArtifacts {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.configure(
      SparkSession.builder()
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    // ---- IVF centroids: k = 16, seed 42 (trainCentroids defaults)
    val emb = T(spark, dir, "embeddings")
    val cents = graft.operators.Similarity.trainCentroids(emb, k = 16)
      .orderBy(col("cid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    println("// ---- Scala literal: IvfCentroids16")
    cents.foreach { case (cid, cv) =>
      println(s"""    ${cid}L -> Seq(${cv.map(f => s"${f}f").mkString(", ")}),""")
    }
    println("-- ---- SQL literal: cent(cid, embedding) VALUES rows")
    cents.foreach { case (cid, cv) =>
      println(s"""       |  ($cid, [${cv.map(f => s"CAST($f AS FLOAT)").mkString(", ")}]),""")
    }

    // ---- BPE merges: 16, learned from the documents word dictionary
    val docs = T(spark, dir, "documents")
    val merges = graft.operators.Bpe.trainBpe(
      graft.operators.Bpe.wordCounts(docs, col("text")), numMerges = 16)

    def scalaStr(s: String) =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

    println("// ---- Scala literal: BpeMerges16")
    println("    " + merges.map { case (l, r) => s"(${scalaStr(l)}, ${scalaStr(r)})" }
      .mkString(", "))
    println("-- ---- SQL literal: m(rank, l, r) VALUES rows")
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      println(s"""       |  (${i + 1}, ${sqlStr(l)}, ${sqlStr(r)}),""")
    }

    // ---- Unigram-LM pieces: corpus chars + 48 multi-char pieces, soft
    // EM over the same word dictionary, quantized to fixed-point costs
    // (ln runs HERE; application is exact integer Viterbi)
    val wc = graft.operators.Bpe.wordCounts(docs, col("text"))
      .select(col("word"), col("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val uCosts = graft.operators.Unigram.toCosts(
      graft.operators.Unigram.trainUnigram(wc))
    println("// ---- Scala literal: UnigramCosts")
    uCosts.foreach { case (p, c) => println(s"    (${scalaStr(p)}, ${c}L),") }

    // ---- DSIR bucket weights: target = source 'src0', raw = the rest,
    // 64 hashed-unigram buckets (trainDsirWeights runs the ln on the
    // driver; the pinned literals keep query-time arithmetic ln-free)
    val target = docs.filter(col("source") === "src0")
    val raw = docs.filter(col("source") =!= "src0")
    val dw = graft.operators.Sampling.trainDsirWeights(target, raw, col("text"), 64)
    println("// ---- Scala literal: DsirWeights64")
    println("    " + dw.map(d => s"$d").mkString(", "))

    // ---- Linear language classifier: logistic regression over hashed
    // char-trigram counts, weights integer-quantized at 2^20. Training
    // (L-BFGS) runs HERE; the registry applies the pinned longs in exact
    // integer arithmetic. TWO hash families, each trained on ITS OWN
    // features: "md5" (TextClassifier.hashedGramDim — NOT HashingTF's
    // murmur3, which no SQL oracle can replay) feeds the oracle-gated
    // entry; "fast" (the native CharNgramDimCounts xxhash64 kernel) is
    // the production featurize whose predictions TextClassifierSpec pins
    // against the md5 family.
    for ((family, litName) <- Seq(("md5", "LangLrWeights"),
        ("fast", "LangLrWeightsFast"))) {
      import graft.operators.TextClassifier
      val dims = 128
      val labels = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted
      val lIdx = labels.zipWithIndex.toMap
      // the SHARED apply-path featurizer — never re-type this chain: a
      // trainer/apply feature drift is invisible to the oracle gate
      val featRows = TextClassifier.hashedGramCounts(
          docs, col("doc_id"), col("text"), n = 3, dims = dims, family)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .select(col("id"), col("lang"), col("dim"), col("c"))
        .collect()
        .groupBy(r => (r.getLong(0), r.getString(1)))
        .toSeq // BEFORE map: a Map of (labelIdx, vector) would dedupe by
        // the label key and silently train on one document per class
        .map { case ((_, lang), rows) =>
          // merge duplicate dims defensively: the "fast" family is
          // map-only and emits one count set per INPUT ROW, so a
          // duplicate-id frame would hand SparseVector duplicate indices
          // (throws); summing is the exact merge either family implies
          val pairs = rows.map(r => (r.getLong(2).toInt, r.getLong(3).toDouble))
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
            .sortBy(_._1)
          (lIdx(lang).toDouble, org.apache.spark.ml.linalg.Vectors.sparse(
            dims, pairs.map(_._1).toArray, pairs.map(_._2).toArray))
        }
      import spark.implicits._
      val trainDf = featRows.toDF("label", "features")
      val lr = new org.apache.spark.ml.classification.LogisticRegression()
        .setFamily("multinomial").setMaxIter(100).setRegParam(1e-4)
        .setLabelCol("label").setFeaturesCol("features")
      val m = lr.fit(trainDf)
      def q(v: Double): Long = math.round(v * (1L << 20))
      val trainAcc = m.transform(trainDf)
        .filter(col("label") === col("prediction")).count().toDouble /
        trainDf.count()
      println(s"// lang-LR[$family] training accuracy: $trainAcc")
      // probe: manual linear scoring with the raw coefficientMatrix must
      // reproduce the model's own argmax — if it doesn't, the extraction
      // (not the quantization) is wrong
      val manualOk = featRows.count { case (lbl, v) =>
        val sv = v.asInstanceOf[org.apache.spark.ml.linalg.SparseVector]
        val scores = (0 until labels.length).map { i =>
          m.interceptVector(i) + sv.indices.zip(sv.values).map {
            case (d, c) => c * m.coefficientMatrix(i, d)
          }.sum
        }
        scores.indexOf(scores.max).toDouble == lbl
      }
      println(s"// lang-LR[$family] manual-score accuracy: ${
        manualOk.toDouble / featRows.size}")
      val quantOk = featRows.count { case (lbl, v) =>
        val sv = v.asInstanceOf[org.apache.spark.ml.linalg.SparseVector]
        val scores = (0 until labels.length).map { i =>
          q(m.interceptVector(i)) + sv.indices.zip(sv.values).map {
            case (d, c) => c.toLong * q(m.coefficientMatrix(i, d))
          }.sum
        }
        scores.indexOf(scores.max).toDouble == lbl
      }
      println(s"// lang-LR[$family] quantized-score accuracy: ${
        quantOk.toDouble / featRows.size}")
      println(s"// lang-LR[$family] n_train_rows: ${featRows.size}")
      val doc0 = docs.agg(org.apache.spark.sql.functions.min(col("doc_id")))
        .head().getLong(0)
      val f0 = TextClassifier.hashedGramCounts(
          docs.filter(col("doc_id") === doc0), col("doc_id"), col("text"),
          n = 3, dims = dims, family)
        .collect().map(r => (r.getLong(1).toInt, r.getLong(2))).sortBy(_._1)
      println(s"// lang-LR doc0 recount first5: ${f0.take(5).mkString(" ")}")
      println(s"// ---- Scala literal: $litName (label, biasQ, wQ[128])")
      labels.zipWithIndex.foreach { case (l, i) =>
        val row = (0 until dims).map(d => q(m.coefficientMatrix(i, d)))
        println(s"""    (${scalaStr(l)}, ${q(m.interceptVector(i))}L, Seq(${
          row.map(x => s"${x}L").mkString(", ")})),""")
      }
    }

    // ---- mm fixture dHash64 pins: decode the mm_phash_pairs fixture
    // corpus through the production path ONCE and print the (id, hash)
    // literals for PinnedArtifacts.MmFixtureHashes64
    import spark.implicits._
    val mmHashes = graft.operators.Multimodal.perceptualHash(
        graft.queries.Pipeline.mmFixtureImages.toDF("id", "payload"),
        col("payload"))
      .select(col("id"), col("phash")).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    println("// ---- Scala literal: MmFixtureHashes64")
    mmHashes.foreach { case (id, h) => println(s"    ${id}L -> ${h}L,") }

    spark.stop()
  }
}
