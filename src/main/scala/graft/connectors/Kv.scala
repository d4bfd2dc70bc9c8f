package graft.connectors

import java.util.regex.Pattern
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Key-value (Redis-semantics) connector.
  *
  * Reference surface: the `jd_*` UDTF family — get / set / set-with-NX-XX-
  * expiry / del / mget / mset / keys-pattern, one connection per operator
  * (reference: data-process/hive-udfs/src/main/java/com/thenetcircle/service/data/hive/udf/redis/UDTFJedisGet.java:17
  * … UDTFJedisKeys.java:20, connection lifecycle JedisUDTF.java:79-89).
  *
  * Spark-native restatement: a [[KvClient]] trait with the Jedis verbs, a
  * serializable factory handed to `mapPartitions` (one client per partition,
  * closed via task-completion listener), and results appended as a `ret`
  * column — the reference's trailing-`ctx` protocol dissolves because input
  * columns survive. The reference's 285-line reflection bridge
  * (UDFHelper.java:383-467) dissolves too: Scala functions + Encoders already
  * convert types.
  *
  * [[InMemoryKv]] is the deterministic zero-egress stand-in (FIXTURES.md §4);
  * a real Redis-backed client only has to implement [[KvClient]].
  */
trait KvClient extends AutoCloseable {
  def get(k: String): String
  def set(k: String, v: String): String
  /** SET with NX/XX + EX/PX expiry; returns "OK" or null when the NX/XX guard
    * fails (reference: redis/UDTFJedisSet5.java:14).
    */
  def set5(k: String, v: String, nxxx: String, expx: String, time: Long): String
  def del(ks: Seq[String]): Long
  def mget(ks: Seq[String]): Seq[String]
  def mset(kvs: Seq[(String, String)]): String
  def keys(globPattern: String): Seq[String]
  override def close(): Unit = ()
}

/** Serializable recipe for opening a client on an executor. */
trait KvClientFactory extends Serializable {
  def open(): KvClient
}

/** JVM-global in-memory store with millisecond expiry. Namespaced so tests
  * don't interfere; executor-local (correct under local[*]; a cluster
  * deployment swaps in a networked [[KvClient]]).
  */
object InMemoryKv {
  // namespace -> key -> (value, expiresAtMs or Long.MaxValue)
  private val stores = TrieMap.empty[String, TrieMap[String, (String, Long)]]

  private[connectors] def store(ns: String): TrieMap[String, (String, Long)] =
    stores.getOrElseUpdate(ns, TrieMap.empty)

  def clear(ns: String): Unit = stores.remove(ns)

  /** Redis glob (* ? [abc]) → anchored regex. */
  private[connectors] def globToRegex(glob: String): Pattern = {
    val sb = new StringBuilder("^")
    glob.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case '[' => sb.append('[')
      case ']' => sb.append(']')
      case c => sb.append(Pattern.quote(c.toString))
    }
    Pattern.compile(sb.append('$').toString)
  }

  case class Factory(namespace: String) extends KvClientFactory {
    def open(): KvClient = new KvClient {
      private def s = store(namespace)
      private def now = System.currentTimeMillis()
      private def live(k: String): Option[String] = s.get(k) match {
        case Some((v, exp)) if exp > now => Some(v)
        case Some(_) => s.remove(k); None
        case None => None
      }
      def get(k: String): String = live(k).orNull
      def set(k: String, v: String): String = { s.put(k, (v, Long.MaxValue)); "OK" }
      def set5(k: String, v: String, nxxx: String, expx: String, time: Long): String = {
        val exists = live(k).isDefined
        val allowed = nxxx match {
          case null | "" => true
          case "NX" | "nx" => !exists
          case "XX" | "xx" => exists
          case other => throw new IllegalArgumentException(s"bad nxxx: $other")
        }
        if (!allowed) null
        else {
          val exp = expx match {
            case null | "" => Long.MaxValue
            case "EX" | "ex" => now + time * 1000
            case "PX" | "px" => now + time
            case other => throw new IllegalArgumentException(s"bad expx: $other")
          }
          s.put(k, (v, exp)); "OK"
        }
      }
      def del(ks: Seq[String]): Long =
        ks.count(k => live(k).isDefined && s.remove(k).isDefined).toLong
      def mget(ks: Seq[String]): Seq[String] = ks.map(get)
      def mset(kvs: Seq[(String, String)]): String = { kvs.foreach { case (k, v) => set(k, v) }; "OK" }
      def keys(globPattern: String): Seq[String] = {
        val p = globToRegex(globPattern)
        s.keys.filter(k => live(k).isDefined && p.matcher(k).matches()).toSeq.sorted
      }
    }
  }
}

object Kv {

  private def append(df: DataFrame, factory: KvClientFactory, inputs: Seq[Column],
      out: StructField)(f: (KvClient, Seq[Any]) => Any): DataFrame =
    PartitionAppend(df, inputs, out) { () =>
      val c = factory.open()
      (args => f(c, args), () => c.close())
    }

  private def strSeq(a: Any): Seq[String] = a match {
    case null => Seq.empty
    case s: scala.collection.Seq[_] => s.toSeq.map(x => if (x == null) null else x.toString)
    case other => Seq(String.valueOf(other))
  }

  /** jd_get: appends `ret: string` = GET(key). */
  def withGet(df: DataFrame, key: Column, factory: KvClientFactory): DataFrame =
    append(df, factory, Seq(key), StructField("ret", StringType)) {
      (c, a) => c.get(a.head.asInstanceOf[String])
    }

  /** jd_set2: appends `ret: string` = SET(key, value) status. */
  def withSet(df: DataFrame, key: Column, value: Column, factory: KvClientFactory,
      ret: String = "ret"): DataFrame =
    append(df, factory, Seq(key, value), StructField(ret, StringType)) {
      (c, a) => c.set(a(0).asInstanceOf[String], a(1).asInstanceOf[String])
    }

  /** jd_set5: SET with NX/XX + EX/PX expiry; `ret` is "OK" or null. */
  def withSet5(df: DataFrame, key: Column, value: Column, nxxx: Column, expx: Column,
      time: Column, factory: KvClientFactory, ret: String = "ret"): DataFrame =
    append(df, factory, Seq(key, value, nxxx, expx, time), StructField(ret, StringType)) {
      (c, a) => c.set5(a(0).asInstanceOf[String], a(1).asInstanceOf[String],
        a(2).asInstanceOf[String], a(3).asInstanceOf[String],
        a(4) match { case null => 0L; case n: Number => n.longValue() })
    }

  /** jd_del: appends `ret: long` = number of keys removed. */
  def withDel(df: DataFrame, keys: Column, factory: KvClientFactory,
      ret: String = "ret"): DataFrame =
    append(df, factory, Seq(keys), StructField(ret, LongType)) {
      (c, a) => c.del(strSeq(a.head))
    }

  /** jd_mget: appends `ret: array<string>` (null element per missing key). */
  def withMGet(df: DataFrame, keys: Column, factory: KvClientFactory,
      ret: String = "ret"): DataFrame =
    append(df, factory, Seq(keys), StructField(ret, ArrayType(StringType))) {
      (c, a) => c.mget(strSeq(a.head))
    }

  /** jd_mset: `pairs` is array<struct<k,v>> or map; appends `ret: string`.
    * A null `pairs` cell yields a null `ret`. A null key, value or array
    * element has no MSET form and is refused with an
    * IllegalArgumentException naming it; none of that row's pairs is
    * written.
    */
  def withMSet(df: DataFrame, pairs: Column, factory: KvClientFactory): DataFrame =
    append(df, factory, Seq(pairs), StructField("ret", StringType)) { (c, a) =>
      def pair(k: Any, v: Any): (String, String) =
        if (k == null) throw new IllegalArgumentException("withMSet: null key")
        else if (v == null)
          throw new IllegalArgumentException(s"withMSet: null value for key $k")
        else (String.valueOf(k), String.valueOf(v))
      a.head match {
        case null => null
        case m: Map[_, _] => c.mset(m.toSeq.map { case (k, v) => pair(k, v) })
        case s: scala.collection.Seq[_] =>
          c.mset(s.toSeq.map {
            case r: org.apache.spark.sql.Row => pair(r.getString(0), r.getString(1))
            case null =>
              throw new IllegalArgumentException("withMSet: null array element")
          })
      }
    }

  /** jd_keys: generator — one row per key matching the glob pattern
    * (reference: redis/UDTFJedisKeys.java:39-48). Driver-side connector fn
    * returning a Dataset, per SURVEY §2A #25.
    */
  def keys(spark: SparkSession, factory: KvClientFactory, pattern: String): DataFrame = {
    import spark.implicits._
    val c = factory.open()
    try c.keys(pattern).toDF("key") finally c.close()
  }

  /** Driver-side seed helper (bulk mset). */
  def seed(factory: KvClientFactory, kvs: Seq[(String, String)]): Unit = {
    val c = factory.open()
    try c.mset(kvs) finally c.close()
  }
}
