package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RedduckFunctions
import graft.net.{FakeRedisServer, RedisCommands, RedisConnection, RedisLink}
import graft.plans.{RedisLookup, RedisLookupExec}

/** One lookup operator behind `redis_get`, `redis_hgetall`,
  * `withRedisValues` and `withHashFields`: SQL calls batch like the
  * DataFrame calls, run wherever Spark admits a non-deterministic
  * expression, and read what per-key GET and HGETALL read.
  */
class RedisLookupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val server = new FakeRedisServer()
  private var port: Int = _

  /** A value with multi-byte characters for every third key. */
  private def stored(i: Int): String = if (i % 3 == 0) s"v$i-é✓😀" else s"v$i"

  override def beforeAll(): Unit = {
    port = server.start()
    (0 until 1000).foreach { i =>
      server.put(s"lk:$i", stored(i))
      server.putHash(s"lh:$i", (0 until i % 7).map(f => Seq("z", "é", "😀", "a")(f % 4) + f -> s"$i.$f").toMap)
    }
    server.put("lh:str", "a string")
  }

  override def afterAll(): Unit = server.stop()

  private def keyFrame(keys: Seq[String], parts: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(keys.map(Row(_)), parts),
      StructType(Seq(StructField("key", StringType))))

  private def sql(keys: Seq[String], query: String): Array[Row] = {
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    graft.GraftRedis.registerSql(spark)
    keyFrame(keys).createOrReplaceTempView("lookup_keys")
    spark.sql(query).collect()
  }

  /** 1,300 keys: every tenth NULL, those past 999 misses. */
  private def keys(prefix: String): Seq[String] =
    (0 until 1300).map(i => if (i % 10 == 0) null else s"$prefix$i")

  test("SQL redis_get over 1,300 keys in one partition sends 3 MGETs and no GET; NULL keys and misses give NULL") {
    val ks = keys("lk:")
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    graft.GraftRedis.registerSql(spark)
    keyFrame(ks).createOrReplaceTempView("lookup_keys")
    val df = spark.sql("SELECT key, redis_get(key) AS value FROM lookup_keys")
    assert(df.queryExecution.sparkPlan.collect { case e: RedisLookupExec => e }.length == 1,
      df.queryExecution.sparkPlan)
    server.resetCommandCalls()
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(server.commandCalls("MGET") == 3 && server.commandCalls("GET") == 0)
    assert(got == ks.map(k => (k, if (k == null || k.drop(3).toInt >= 1000) null else stored(k.drop(3).toInt))))
  }

  test("SQL redis_hgetall sends one write of HGETALLs per 512 keys, with each map in UTF-8 binary key order") {
    val ks = keys("lh:")
    server.resetCommandCalls()
    val got = sql(ks, "SELECT key, h, map_keys(h) FROM (SELECT key, redis_hgetall(key) AS h FROM lookup_keys)")
    assert(server.commandCalls("HGETALL") == ks.count(_ != null))
    assert(server.writesEndingWith("HGETALL") == 3)
    val c = new RedisConnection("127.0.0.1", port)
    try got.foreach { r =>
      val k = r.getString(0)
      if (k == null) assert(r.isNullAt(1))
      else {
        val names = r.getSeq[String](2)
        assert(r.getMap[String, String](1).toMap == RedisCommands.hgetall(c, k), k)
        assert(names == names.sortWith((x, y) => java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8)) < 0))
      }
    } finally c.close()
  }

  test("redis_get runs in WHERE, in and around aggregates, and nested; in an aggregate function's arguments or over both sides of a join it fails analysis") {
    val ks = (0 until 40).map(i => s"lk:$i") :+ null :+ "lk:miss"
    assert(sql(ks, "SELECT key FROM lookup_keys WHERE redis_get(key) = 'v7'").map(_.getString(0)).toSeq == Seq("lk:7"))
    // the value of lk:i is v<i>...: its digits name the key again
    val Array(agg) = sql(ks, "SELECT count(v), sum(int(regexp_extract(v, 'v([0-9]+)', 1))) " +
      "FROM (SELECT redis_get(key) AS v FROM lookup_keys)")
    assert(agg.getLong(0) == 40 && agg.getLong(1) == (0 until 40).sum)
    val byCall = sql(ks, "SELECT redis_get(key), count(*) FROM lookup_keys GROUP BY redis_get(key)")
    assert(byCall.map(r => (r.getString(0), r.getLong(1))).toMap == (0 until 40).map(i => stored(i) -> 1L).toMap + ((null, 2L)))
    val grouped = sql(ks, "SELECT key, redis_get(key), count(*) FROM lookup_keys WHERE key < 'lk:2' GROUP BY key")
    assert(grouped.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      ks.filter(k => k != null && k < "lk:2").map(k => (k, stored(k.drop(3).toInt), 1L)).toSet)
    val byValue = sql(ks, "SELECT v, count(*) FROM (SELECT redis_get(key) AS v FROM lookup_keys) GROUP BY v")
    assert(byValue.map(r => (r.getString(0), r.getLong(1))).toMap == (0 until 40).map(i => stored(i) -> 1L).toMap + ((null, 2L)))
    val nested = sql(ks.take(6), "SELECT redis_get(concat('lk:', regexp_extract(redis_get(key), 'v([0-9]+)', 1))) FROM lookup_keys")
    assert(nested.map(_.getString(0)).toSeq == (0 until 6).map(stored))

    keyFrame(Seq("lk:1")).createOrReplaceTempView("lookup_right")
    val e = intercept[AnalysisException](spark.sql(
      "SELECT * FROM lookup_keys l JOIN lookup_right r ON redis_get(concat(l.key, r.key)) IS NULL").collect())
    assert(e.getMessage.contains("INVALID_NON_DETERMINISTIC_EXPRESSIONS"), e.getMessage)
    val a = intercept[AnalysisException](spark.sql("SELECT count(redis_get(key)) FROM lookup_keys").collect())
    assert(a.getMessage.contains("AGGREGATE_FUNCTION_WITH_NONDETERMINISTIC_EXPRESSION"), a.getMessage)
  }

  test("the lookup equals per-key GET and HGETALL over random keys, NULL keys and misses, at batch sizes 1, 3 and 512") {
    val rnd = new Random(23)
    val c = new RedisConnection("127.0.0.1", port)
    try for (batch <- Seq(1, 3, 512)) {
      val ks = Seq.fill(600)(rnd.nextInt(10) match {
        case 0 => null
        case 1 => s"miss:${rnd.nextInt(50)}"
        case _ => rnd.nextInt(1000).toString
      })
      def lookup(hash: Boolean, prefix: String): Array[Row] = {
        val kind = RedisLookup.Kind(hash, "127.0.0.1", port, RedisLink(), legacyEmpty = false, batch)
        RedduckFunctions.lookup(keyFrame(ks.map(k => if (k == null) null else prefix + k), parts = 3),
          "key", "value", kind).collect()
      }
      val values = lookup(hash = false, "lk:").map(r => (r.getString(0), r.getString(1))).toSeq
      assert(values == ks.map(k => if (k == null) (null, null) else ("lk:" + k, RedisCommands.get(c, "lk:" + k).orNull)))
      val hashes = lookup(hash = true, "lh:").map(r => (r.getString(0), Option(r.getMap[String, String](1)).map(_.toMap).orNull)).toSeq
      assert(hashes == ks.map(k => if (k == null) (null, null) else ("lh:" + k, RedisCommands.hgetall(c, "lh:" + k))))
    } finally c.close()
  }

  test("a WRONGTYPE key fails redis_hgetall's query, and the next query reads") {
    def chain(t: Throwable): String = if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    val e = intercept[Exception](sql(Seq("lh:1", "lh:str"), "SELECT redis_hgetall(key) FROM lookup_keys"))
    assert(chain(e).contains("HGETALL error: WRONGTYPE"), chain(e))
    assert(sql(Seq("lh:2"), "SELECT redis_hgetall(key) FROM lookup_keys").head.getMap[String, String](0).toMap ==
      Map("z0" -> "2.0", "é1" -> "2.1"))
  }
}
