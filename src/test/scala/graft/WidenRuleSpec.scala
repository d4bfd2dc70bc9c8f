package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.WidenNarrowScans

import graft.operators.Dedup

/** The plan-time widen policy ([[WidenNarrowScans]]): which scans get the
  * round-robin repartition, where it goes, and what it costs to decide.
  */
class WidenRuleSpec extends SparkSpec {
  import spark.implicits._

  private def parallelism = spark.sparkContext.defaultParallelism

  /** Random words, so that parquet cannot shrink 4000 docs below
    * `WidenNarrowScans.MinBytes`. */
  private val docs = {
    val rnd = new scala.util.Random(7)
    (1 to 4000).map(i => (i.toLong,
      Seq.fill(30)(rnd.alphanumeric.take(8).mkString).mkString(" "), i * 3))
  }

  /** `rows` of `docs` as parquet in `files` files (one row group each). */
  private def parquet(files: Int, rows: Int = docs.size): String = {
    val dir = Files.createTempDirectory("graft-widen").toString + "/t"
    docs.take(rows).toDF("id", "text", "extra").repartition(files).write.parquet(dir)
    val written = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(written.length === files)
    assert(rows < docs.size || written.map(_.length).sum >= WidenNarrowScans.MinBytes)
    dir
  }

  /** Signatures counted per hash value: per-row kernel work that a shuffle
    * consumes (a map-only plan keeps its scan's width). */
  private def signatures(path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("id"), Dedup.minHashSignature(col("text"), 3, 32).as("sig"))
      .groupBy(col("sig")).agg(count(col("id")).as("count"))

  private def repartitions(p: LogicalPlan): Seq[Repartition] =
    p.collect { case r: Repartition => r }

  test("a one-file scan feeding minHashSignature gets one round-robin " +
      "Repartition(defaultParallelism), directly above the pruned (id, text) " +
      "projection") {
    val df = signatures(parquet(1))
    val plan = df.queryExecution.optimizedPlan
    val Seq(r) = repartitions(plan)
    assert(r.numPartitions === parallelism && r.shuffle, plan)
    r.child match {
      case Project(cols, _: LogicalRelation) => assert(cols.map(_.name) === Seq("id", "text"))
      case other => fail(s"not a pruning projection over the scan:\n$other")
    }
    // the kernel sits above the exchange
    val kernelOverR = plan.collect { case p @ Project(_, `r`) => p }
    assert(kernelOverR.exists(_.expressions.exists(_.exists(
      _.getClass.getSimpleName == "MinHashSignature"))), plan)
    val exchanges = df.queryExecution.sparkPlan.collect {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }
    assert(exchanges.count(_ == RoundRobinPartitioning(parallelism)) === 1, exchanges)
    assert(df.agg(sum(col("count"))).head().getLong(0) === docs.size)
  }

  test("a cached one-file scan feeding minHashSignature gets the " +
      "repartition above the cached relation") {
    val base = spark.read.parquet(parquet(1)).select(col("id"), col("text")).persist()
    try {
      val plan = base.select(col("id"), Dedup.minHashSignature(col("text"), 3, 32).as("sig"))
        .groupBy(col("sig")).count().queryExecution.optimizedPlan
      val Seq(r) = repartitions(plan)
      assert(r.child.collectLeaves().map(_.getClass) === Seq(classOf[InMemoryRelation]), plan)
    } finally base.unpersist()
  }

  test("a kernel above a broadcast join widens the streamed side only") {
    // the build side's own explode does not widen it: it is collected
    val small = broadcast(spark.read.parquet(parquet(1))
      .select(col("id"), explode(array(col("extra"), lit(0))).as("extra")))
    val plan = spark.read.parquet(parquet(1)).join(small, "id")
      .select(col("id"), Dedup.minHashSignature(col("text"), 3, 32).as("sig"))
      .groupBy(col("sig")).count().queryExecution.optimizedPlan
    val Seq(r) = repartitions(plan)
    val Seq(j) = plan.collect { case j: Join => j }
    assert(j.left.exists(_ eq r) && !j.right.exists(_ eq r), plan)
  }

  test("another read of a widened scan, pruned alike, gets the same " +
      "repartition, so the two share one exchange") {
    val path = parquet(1)
    val total = spark.read.parquet(path).agg(sum(length(col("text")) + col("id")).as("total"))
    val plan = signatures(path).crossJoin(total).queryExecution.optimizedPlan
    val rs = repartitions(plan)
    assert(rs.size === 2 && rs.map(_.child.canonicalized).distinct.size === 1, plan)
  }

  test("the same plan over defaultParallelism files gets none, and so does " +
      "one small file, a map-only plan and a limit over one file") {
    assert(repartitions(signatures(parquet(parallelism)).queryExecution.optimizedPlan)
      .isEmpty)
    assert(repartitions(signatures(parquet(1, rows = 40)).queryExecution.optimizedPlan)
      .isEmpty)
    val mapOnly = spark.read.parquet(parquet(1))
      .select(col("id"), Dedup.minHashSignature(col("text"), 3, 32).as("sig"))
    assert(repartitions(mapOnly.queryExecution.optimizedPlan).isEmpty)
    assert(repartitions(mapOnly.limit(5).queryExecution.optimizedPlan).isEmpty)
  }

  test("a q01-shaped plan (arithmetic + aggregate) gets none") {
    val q01 = spark.read.parquet(parquet(1))
      .filter(col("extra") <= 90)
      .groupBy((col("id") % 3).as("flag"))
      .agg(sum(col("extra") * (lit(1) - col("id") / 100)).as("charge"), count(lit(1)))
    assert(repartitions(q01.queryExecution.optimizedPlan).isEmpty)
  }

  test("a streaming plan is untouched") {
    val path = parquet(1)
    val stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
      .select(col("id"), Dedup.minHashSignature(col("text"), 3, 32).as("sig"))
    val analyzed = stream.queryExecution.analyzed
    assert(WidenNarrowScans(analyzed) eq analyzed)
    // a file source's micro-batch: the batch plan over a streaming relation
    val batch = signatures(path).queryExecution.analyzed.transform {
      case l: LogicalRelation => l.copy(isStreaming = true)
    }
    assert(batch.isStreaming)
    assert(WidenNarrowScans(batch) eq batch)
  }

  test("optimizing twice, or configuring the session twice, adds nothing") {
    val once = signatures(parquet(1)).queryExecution.optimizedPlan
    assert(repartitions(once).size === 1)
    assert(WidenNarrowScans(once) fastEquals once)
    assert(repartitions(spark.sessionState.optimizer.execute(once)).size === 1)
    GraftSession.configure(spark)
    GraftSession.configure(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq WidenNarrowScans) === 1)
    assert(repartitions(signatures(parquet(1)).queryExecution.optimizedPlan).size === 1)
  }

  test("building and optimizing a former widen site fed by a join runs no " +
      "Spark job") {
    val a = spark.read.parquet(parquet(1))
    val b = spark.read.parquet(parquet(1)).select(col("id"), col("extra").as("e2"))
    val jobs = jobsStartedBy {
      Dedup.lshBands(a.join(b, "id"), col("id"), col("text"), 3, 32, 8)
        .queryExecution.optimizedPlan
    }
    assert(jobs === 0)
  }

  test("no operator or query probes partition counts: no widen( call, no " +
      "rdd.getNumPartitions") {
    val roots = Seq("operators", "queries").map(d => Paths.get(s"src/main/scala/graft/$d"))
    roots.foreach(r =>
      assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val hits = roots.flatMap(r => Files.walk(r).iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("widen(") || l.contains("rdd.getNumPartitions") =>
            s"$f:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
