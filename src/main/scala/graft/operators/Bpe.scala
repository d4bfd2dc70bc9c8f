package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Distributed BPE (byte-pair-encoding) tokenizer training and application
  * — the subword-vocabulary step of a training-data pipeline, run on the
  * corpus the model will be trained on (Sennrich et al. 2016, public
  * algorithm).
  *
  * Scale shape — the part that matters at 100 TB: the CORPUS is touched
  * exactly once (a whitespace-token count aggregation); every training
  * iteration then runs over the WORD DICTIONARY (distinct words ×
  * frequency), which is ~10⁶–10⁷ rows regardless of corpus size
  * (Heaps' law), so `numMerges` iterations cost `numMerges` small
  * dictionary jobs, not corpus passes. Application is the same trick in
  * reverse: tokenize the DISTINCT words once, then hash-join the
  * (word → subwords) map back onto the corpus — the per-word merge loop
  * never runs per occurrence.
  *
  * Determinism: pair counts tie-break lexicographically on (left, right),
  * so the learned merge table is a pure function of the word counts — the
  * same on any cluster layout (counts are exact longs; no floats anywhere).
  *
  * The merge TABLE is driver-sized by construction (numMerges rows) —
  * collecting it is the same move as broadcasting trained k-means
  * centroids, not a driver-side data loop.
  */
object Bpe {

  /** End-of-word marker symbol (classic BPE: lets merges distinguish
    * word-final from word-internal contexts).
    */
  val EndMark = "</w>"

  /** One corpus pass: whitespace-token frequency dictionary
    * `(word, n, syms)` with each word pre-split into its initial symbol
    * sequence (characters + [[EndMark]]).
    */
  def wordCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(TextFunctions.tokensWs(text)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .withColumn("syms",
        concat(filter(split(col("word"), ""), s => length(s) > 0),
          array(lit(EndMark))))

  /** Adjacent-pair frequencies over the dictionary, weighted by word
    * count: `(l, r, cnt)`. One explode + groupBy over dict rows.
    */
  private def pairCounts(dict: DataFrame): DataFrame =
    dict.filter(size(col("syms")) >= 2)
      .select(col("n"), explode(
        transform(sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n")).as("cnt"))

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array — a fold: append, or replace the tail element when it is `l`
    * and the incoming symbol is `r`. Higher-order function, evaluated only
    * over dictionary rows (never the corpus), which is why the interpreted
    * eval is acceptable here.
    */
  private def mergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      // nested CASE, not `&&`: ANSI element_at(-1) throws on an empty
      // array and Catalyst conjunctions do not short-circuit
      when(size(acc) === 0, array(x))
        .otherwise(when(element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x)))))

  /** Learns `numMerges` merges from a [[wordCounts]] dictionary, one per
    * dictionary pass — exact classic BPE (ties → lexicographically smallest,
    * for engine-independent determinism). Each pass is one small pair-count
    * job over the dictionary, so this is the reference trainer, not the
    * production one: at production vocabulary sizes (30k–50k merges) one
    * Spark job per merge is days of scheduler overhead regardless of
    * cluster size — use [[trainBpeLocal]], which learns the same merges.
    *
    * The dictionary is localCheckpointed every few applied merges so plan
    * depth stays O(1). Stops early when no pair is left. Returns the ranked
    * merge table — driver-sized (≤ numMerges rows) by construction.
    */
  def trainBpe(dict0: DataFrame, numMerges: Int): Seq[(String, String)] = {
    var dict = dict0.select(col("n"), col("syms")).localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var learned = 0
    var done = false
    while (learned < numMerges && !done) {
      val top = pairCounts(dict)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        learned += 1
        dict = dict.withColumn("syms", mergeOnce(col("syms"), l, r))
        // checkpoint every few merges, not every merge: a handful of
        // stacked fold projections over the dictionary is cheaper than a
        // materialization job per iteration, while plan depth stays O(1)
        if (learned % 4 == 0) dict = dict.localCheckpoint()
      }
    }
    merges.result()
  }

  /** EXACT sequential BPE at production vocabulary sizes: one Spark job
    * total. The word dictionary is collected once (Heaps-law-bounded —
    * independent of corpus size, the same move production tokenizer
    * trainers make: distributed counting, local merge learning), then every
    * merge is learned with INCREMENTAL pair-count maintenance — applying a
    * merge touches only the words containing that pair (tracked by a
    * postings index), and the argmax comes from a lazy-deletion max-heap,
    * so a 50k-merge vocabulary costs no scheduler round-trips at all.
    * Semantics are identical to [[trainBpe]] (same (count desc, l, r)
    * tie-break, same greedy left-to-right pass); BpeSpec asserts the
    * equivalence.
    */
  def trainBpeLocal(dict0: DataFrame, numMerges: Int): Seq[(String, String)] = {
    val rows = dict0.select(col("n"), col("syms")).collect()
    val freq = rows.map(_.getLong(0))
    val words = rows.map(_.getSeq[String](1).toArray)

    // pair -> weighted count; pair -> indices of words containing it
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val postings =
      scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.Set[Int]]
    def wordPairs(syms: Array[String]): Iterator[(String, String)] =
      if (syms.length < 2) Iterator.empty
      else (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))

    // max-heap on (count, then lexicographically smallest pair) with lazy
    // deletion: stale entries are skipped at pop time by re-checking counts.
    // Ties compare in UTF-8 BYTE order (what Spark's orderBy on strings
    // uses) — String.compareTo is UTF-16 code-unit order, which disagrees
    // for non-BMP symbols (an emoji's surrogates sort below U+E000..U+FFFF
    // chars in UTF-16 but above them in UTF-8), and the contract here is
    // merge-for-merge equality with the distributed trainers.
    def utf8Compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val cl = utf8Compare(b._2, a._2)
          if (cl != 0) cl else utf8Compare(b._3, a._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)

    var wi = 0
    while (wi < words.length) {
      for (p <- wordPairs(words(wi))) {
        counts(p) = counts.getOrElse(p, 0L) + freq(wi)
        postings.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
      }
      wi += 1
    }
    counts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = Seq.newBuilder[(String, String)]
    var learned = 0
    var done = false
    while (learned < numMerges && !done) {
      // pop stale entries until the top reflects the live count
      var top: Option[(String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.get((l, r)).contains(c)) top = Some((l, r))
      }
      top match {
        case None => done = true
        case Some((l, r)) =>
          merges += ((l, r))
          learned += 1
          val touched = postings.getOrElse((l, r), scala.collection.mutable.Set.empty)
          for (w <- touched.toArray) {
            val before = words(w)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < before.length) {
              if (out.nonEmpty && out.last == l && before(i) == r)
                out(out.length - 1) = l + r
              else out += before(i)
              i += 1
            }
            val after = out.toArray
            if (!java.util.Arrays.equals(
                before.asInstanceOf[Array[AnyRef]], after.asInstanceOf[Array[AnyRef]])) {
              val delta = scala.collection.mutable.HashMap.empty[(String, String), Long]
              for (p <- wordPairs(before)) delta(p) = delta.getOrElse(p, 0L) - 1L
              for (p <- wordPairs(after)) delta(p) = delta.getOrElse(p, 0L) + 1L
              delta.foreach { case (p, d) =>
                if (d != 0L) {
                  val nc = counts.getOrElse(p, 0L) + d * freq(w)
                  if (nc <= 0L) {
                    counts.remove(p)
                    postings.get(p).foreach(_ -= w)
                  } else {
                    counts(p) = nc
                    heap.enqueue((nc, p._1, p._2))
                    if (d > 0) postings.getOrElseUpdate(
                      p, scala.collection.mutable.Set.empty) += w
                  }
                }
              }
              // drop this word from postings of pairs it no longer contains
              val afterSet = wordPairs(after).toSet
              for (p <- wordPairs(before)) {
                if (!afterSet(p)) postings.get(p).foreach(_ -= w)
              }
              words(w) = after
            }
          }
      }
    }
    merges.result()
  }

  /** Applies a ranked merge table to one word (driver/executor-local; used
    * only over the distinct-word dictionary). Merges apply in rank order,
    * each as a full greedy left-to-right pass — the classic algorithm.
    */
  def applyMerges(word: String, merges: Seq[(String, String)]): Seq[String] = {
    // split by CODE POINT, not UTF-16 code unit, to mirror the SQL-side
    // symbolization (split(word, '') advances by code point) — otherwise
    // surrogate pairs (emoji, supplementary CJK) tokenize inconsistently
    // with the learned merge table
    var syms: List[String] = {
      val b = List.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val n = Character.charCount(word.codePointAt(i))
        b += word.substring(i, i + n)
        i += n
      }
      (b += EndMark).result()
    }
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ListBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r)
          out(out.length - 1) = l + r
        else out += x
      }
      syms = out.toList
    }
    syms
  }

  /** Tokenizes a corpus with a learned merge table: distinct words are
    * tokenized ONCE (UDF over the dictionary — never the corpus; the merge
    * loop is inherently sequential per word, and the dictionary is the
    * small side), then hash-joined back onto the exploded corpus and
    * re-assembled per document in original word order. Output:
    * `(id, tokens array<string>, n_tokens)`.
    */
  def tokenizeCorpus(df: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(id.as("id"),
      posexplode(TextFunctions.tokensWs(text)).as(Seq("pos", "word")))
    val tok = udf((w: String) => applyMerges(w, merges))
    val dict = words.select(col("word")).distinct()
      .withColumn("toks", tok(col("word")))
    val tokenized = words.join(dict, Seq("word"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("toks")))).as("t"))
      .select(col("id"),
        flatten(expr("transform(t, x -> x.toks)")).as("tokens"))
    // docs with no whitespace tokens still appear, with an empty token list
    df.select(id.as("id")).distinct()
      .join(tokenized, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("tokens"), array().cast("array<string>")).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** Tokenizer fertility diagnostics per group (the per-language tokenizer
    * audit run before committing to a vocab: a tokenizer that spends 3×
    * the subwords per word on one language starves it of effective context
    * at training time). For each `group` (language, source, domain):
    * document/char/word/BPE-token counts plus `tokens_per_word` (fertility)
    * and `chars_per_token` (compression) as single exact-integer-ratio
    * divisions.
    *
    * Scale shape: word counts aggregate to (group, word) with map-side
    * partials — document text never shuffles; the merge loop runs once per
    * DISTINCT word (the dictionary, not the corpus); token totals come from
    * `Σ count·n_sub` so per-doc token arrays are never materialized
    * (unlike [[tokenizeCorpus]], which exists to EMIT tokens).
    */
  def fertilityByGroup(df: DataFrame, text: Column, group: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(group.as("grp"), explode(TextFunctions.tokensWs(text)).as("word"))
      .groupBy(col("grp"), col("word")).agg(count(lit(1)).as("n"))
    val tokn = udf((w: String) => applyMerges(w, merges).size)
    val dict = words.select(col("word")).distinct()
      .withColumn("n_sub", tokn(col("word")))
    val tok = words.join(dict, Seq("word"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_tokens"))
    val base = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(length(text)).as("n_chars"))
    base.join(tok, Seq("grp"), "left")
      .select(col("grp"), col("n_docs"), col("n_chars"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("tokens_per_word",
        when(col("n_words") === 0, lit(0.0))
          .otherwise(col("n_tokens").cast("double") / col("n_words").cast("double")))
      .withColumn("chars_per_token",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_chars").cast("double") / col("n_tokens").cast("double")))
  }
}
