package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.net.{FakeRedisServer, RedisCommands, RedisConnection}

/** `redis-scan`, `redis-kv` and `redis-hash` share one table, scan and
  * page loop: cluster partitions are planned once per scan, hash pages
  * follow MOVED/ASK like kv pages, take the pushed LIMIT, and order each
  * hash's fields as Spark orders strings.
  */
class RedisKeyspaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withServers[T](n: Int)(f: Seq[(FakeRedisServer, Int)] => T): T = {
    val servers = Seq.fill(n)(new FakeRedisServer())
    try f(servers.map(s => (s, s.start())))
    finally servers.foreach(_.stop())
  }

  private def hashes(port: Int, pattern: String) = spark.read.format("redis-hash")
    .option("host", "127.0.0.1").option("port", port.toString).option("pattern", pattern)

  test("partition.mode=cluster plans its partitions once: one HELLO on a slot-less seed per read") {
    withServers(2) { case Seq((seed, seedPort), (master, masterPort)) =>
      (1 to 4).foreach(i => master.put(s"cs:$i", s"v$i"))
      val slotMap = Seq((0, 16383, "127.0.0.1", masterPort))
      seed.setClusterSlots(slotMap)
      master.setClusterSlots(slotMap)
      val keys = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", seedPort.toString)
        .option("partition.mode", "cluster").option("resp", "3")
        .option("pattern", "cs:*").load()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(keys == (1 to 4).map(i => s"cs:$i"))
      assert(seed.helloCalls == 1, s"seed HELLO calls: ${seed.helloCalls}")
    }
  }

  test("redis-hash pages follow an ASK to an importing node, with ASKING before each HGETALL") {
    withServers(2) { case Seq((a, portA), (b, portB)) =>
      (1 to 3).foreach { i =>
        a.putHash(s"mig:$i", Map("f" -> s"a$i"))
        b.putHash(s"mig:$i", Map("f" -> s"b$i"))
      }
      a.putHash("stay:1", Map("f" -> "a"))
      // B serves mig:* only right after ASKING, else bounces MOVED back
      b.setImporting("mig:", s"127.0.0.1:$portA")
      a.setAsk("mig:", s"127.0.0.1:$portB")
      val rows = hashes(portA, "*").load().collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      assert(rows == (1 to 3).map(i => s"mig:$i" -> Map("f" -> s"b$i")).toMap + ("stay:1" -> Map("f" -> "a")))
      val c = new RedisConnection("127.0.0.1", portA)
      try assert(RedisCommands.hgetallPipelined(c, Seq("mig:1", "stay:1", "mig:2", "mig:3")) ==
        Seq(Map("f" -> "b1"), Map("f" -> "a"), Map("f" -> "b2"), Map("f" -> "b3")))
      finally c.close()
    }
  }

  test("redis-hash pages follow a MOVED to the slot's new owner") {
    withServers(2) { case Seq((a, portA), (b, portB)) =>
      (1 to 3).foreach { i =>
        a.putHash(s"mv:$i", Map("f" -> s"a$i"))
        b.putHash(s"mv:$i", Map("f" -> s"b$i", "g" -> "x"))
      }
      a.setMoved("mv:", s"127.0.0.1:$portB")
      val rows = hashes(portA, "mv:*").option("scan.count", "2").load().collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      assert(rows == (1 to 3).map(i => s"mv:$i" -> Map("f" -> s"b$i", "g" -> "x")).toMap)
    }
  }

  test("redis-hash fields come in UTF-8 binary order (Spark StringType), not UTF-16") {
    withServers(1) { case Seq((s, port)) =>
      // U+1F600 (surrogate pair D83D DE00) sorts before U+FFFD in UTF-16
      // code-unit order but after it in UTF-8 binary order
      val emoji = new String(Character.toChars(0x1F600))
      s.putHash("order:1", Map(emoji -> "e", "\uFFFD" -> "r", "a" -> "x"))
      val keys = hashes(port, "order:*").load().select(org.apache.spark.sql.functions.map_keys(col("fields")))
        .collect().map(_.getSeq[String](0)).toSeq
      assert(keys == Seq(Seq("a", "\uFFFD", emoji)))
    }
  }

  test("redis-hash takes the pushed LIMIT: LIMIT 2 returns 2 rows in fewer SCANs than the full walk") {
    withServers(1) { case Seq((s, port)) =>
      (1 to 8).foreach(i => s.putHash(s"lim:$i", Map("f" -> i.toString)))
      val base = hashes(port, "lim:*").option("scan.count", "2")
      s.resetScanCalls()
      assert(base.load().collect().length == 8)
      val fullTrips = s.scanCalls
      s.resetScanCalls()
      val limited = base.load().limit(2)
      val leaf = limited.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
      assert(leaf.contains("limit=2"), s"expected pushed limit in scan:\n$leaf")
      assert(limited.collect().length == 2)
      assert(s.scanCalls < fullTrips, s"pushed limit did not cut round trips: ${s.scanCalls} vs $fullTrips")
    }
  }
}
