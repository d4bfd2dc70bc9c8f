package graft.connectors

import org.apache.spark.sql.functions._
import graft.SparkSpec

class KvSpec extends SparkSpec {
  import spark.implicits._

  private def freshFactory(name: String): InMemoryKv.Factory = {
    InMemoryKv.clear(name)
    InMemoryKv.Factory(name)
  }

  test("set/get/del roundtrip and mget with missing keys") {
    val f = freshFactory("kv-rt")
    val c = f.open()
    assert(c.set("a", "1") === "OK")
    assert(c.get("a") === "1")
    assert(c.get("nope") === null)
    assert(c.mget(Seq("a", "nope")) === Seq("1", null))
    assert(c.del(Seq("a", "nope")) === 1L)
    assert(c.get("a") === null)
  }

  test("set5 NX only creates, XX only overwrites (reference jd_set5)") {
    val f = freshFactory("kv-nx")
    val c = f.open()
    assert(c.set5("k", "v1", "NX", null, 0) === "OK")
    assert(c.set5("k", "v2", "NX", null, 0) === null) // exists -> NX fails
    assert(c.get("k") === "v1")
    assert(c.set5("k", "v3", "XX", null, 0) === "OK")
    assert(c.get("k") === "v3")
    assert(c.set5("other", "x", "XX", null, 0) === null) // missing -> XX fails
  }

  test("set5 PX expiry: key vanishes after its ttl") {
    val f = freshFactory("kv-ttl")
    val c = f.open()
    assert(c.set5("t", "v", null, "PX", 60) === "OK")
    assert(c.get("t") === "v")
    Thread.sleep(80)
    assert(c.get("t") === null)
  }

  test("keys glob patterns (reference jd_keys)") {
    val f = freshFactory("kv-glob")
    val c = f.open()
    c.mset(Seq("user:1" -> "a", "user:2" -> "b", "item:1" -> "c"))
    assert(c.keys("user:*") === Seq("user:1", "user:2"))
    assert(c.keys("user:?") === Seq("user:1", "user:2"))
    assert(c.keys("*:1") === Seq("item:1", "user:1"))
    assert(c.keys("nope*") === Seq.empty)
  }

  test("withGet appends ret per row via partition-scoped client") {
    val f = freshFactory("kv-df")
    Kv.seed(f, Seq("k:1" -> "one", "k:2" -> "two"))
    val out = Kv.withGet(
        Seq(1, 2, 3).toDF("id").repartition(2),
        concat(lit("k:"), col("id")), f)
      .orderBy("id").as[(Int, String)].collect()
    assert(out === Array((1, "one"), (2, "two"), (3, null)))
  }

  test("withMSet stores map and array<struct<k,v>> pairs; withMGet reads " +
      "them back (reference jd_mset/jd_mget)") {
    val f = freshFactory("kv-mset")
    val maps = Seq((1, Option(Map("m:a" -> "1", "m:b" -> "2"))), (2, None))
      .toDF("id", "kvs")
    assert(Kv.withMSet(maps, col("kvs"), f).orderBy("id")
      .select("ret").as[Option[String]].collect() === Array(Some("OK"), None))
    val structs = spark.sql("SELECT 1 AS id, array(named_struct('k', 's:a', " +
      "'v', 'x'), named_struct('k', 's:b', 'v', 'y')) AS kvs")
    assert(Kv.withMSet(structs, col("kvs"), f).select("ret").as[String]
      .collect() === Array("OK"))
    val got = Kv.withMGet(Seq(1).toDF("id"),
        array(Seq("m:a", "m:b", "s:a", "s:b", "nope").map(lit): _*), f)
      .select("ret").as[Seq[String]].head()
    assert(got === Seq("1", "2", "x", "y", null))
  }

  test("withMSet refuses a null value or array element with a named error") {
    val f = freshFactory("kv-mset-null")
    def refusal(df: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception](Kv.withMSet(df, col("kvs"), f).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in the cause chain: $e"))
    }
    assert(refusal(Seq(Map("k" -> (null: String))).toDF("kvs")) ===
      "withMSet: null value for key k")
    assert(refusal(spark.sql("SELECT array(named_struct('k', 'k2', " +
      "'v', CAST(NULL AS STRING))) AS kvs")) === "withMSet: null value for key k2")
    assert(refusal(spark.sql("SELECT array(named_struct('k', 'k3', 'v', 'v'), " +
      "CAST(NULL AS STRUCT<k: STRING, v: STRING>)) AS kvs")) ===
      "withMSet: null array element")
    // nothing half-written: the "null" string never lands in the store
    assert(f.open().mget(Seq("k", "k2", "k3")) === Seq(null, null, null))
  }

  test("keys generator returns a sorted dataset of matches") {
    val f = freshFactory("kv-gen")
    Kv.seed(f, Seq("a:1" -> "x", "a:2" -> "y", "b:1" -> "z"))
    assert(Kv.keys(spark, f, "a:*").as[String].collect() === Array("a:1", "a:2"))
  }

  test("withSet5 NX under a downstream sort sets each key once: every row " +
      "answers OK") {
    val f = freshFactory("kv-nx-sorted")
    val out = Kv.withSet5((1 to 12).toDF("id"), concat(lit("k:"), col("id")),
        lit("v"), lit("NX"), lit(null).cast("string"), lit(0L), f, ret = "nx")
      .select($"id", $"nx").orderBy($"id").as[(Int, String)].collect()
    assert(out.toSeq === (1 to 12).map(i => (i, "OK")))
  }
}
