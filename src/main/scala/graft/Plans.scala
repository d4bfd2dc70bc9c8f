package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.util.matching.Regex

/** Plan-audit main: dumps `explain("formatted")` for the flagship queries so
  * the physical plans can be reviewed (and diffed across rounds) without a
  * REPL. Usage: `runMain graft.Plans <sfDir> <outFile> [queryName...]`.
  *
  * Expression ids (`#1234`) and exchange plan ids (`plan_id=57`) come from
  * JVM-global counters, so [[normalizeIds]] renumbers them by first
  * appearance within each entry and cuts JVM lambda identities
  * (`Foo$$$Lambda$8853/0x00007f0c89e25bf0@dfab3fb`) to `Foo$$$Lambda`:
  * the same plan dumped from two builds diffs line for line.
  */
object Plans {
  def normalizeIds(explain: String): String = {
    def renumber(text: String, re: Regex, prefix: String): String = {
      val seen = scala.collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(text, m => Regex.quoteReplacement(
        prefix + seen.getOrElseUpdate(m.group(1), seen.size)))
    }
    val noLambdas = """\$\$Lambda[^@\s]*@[0-9a-f]+""".r
      .replaceAllIn(explain, Regex.quoteReplacement("$$Lambda"))
    renumber(renumber(noLambdas, """#(\d+)""".r, "#"),
      """plan_id=(\d+)""".r, "plan_id=")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val names = if (args.length > 2) args.drop(2).toSet else Set(
      "q01_pricing_summary", "q02_revenue_by_nation", "q20_range_join",
      "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "sim_bruteforce_topk", "sim_ivf_topk", "sample_per_class",
      "decontaminate", "repeated_substrings", "fuzzy_join",
      "sim_quantized_topk", "zorder_key", "sim_pq_topk", "sim_ivfpq_topk",
      "overlap_sketch", "join_size_sketch", "cdc_chunks", "lang_id",
      "cdc_segment_dedup")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => names(q._1)).foreach {
      case (name, fn) =>
        sb.append(s"\n================ $name ================\n")
        sb.append(normalizeIds(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))))
        // an entry's plan must not read another entry's cached frame
        Pins.releaseAll(spark)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
