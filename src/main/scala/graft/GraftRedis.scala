package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

/** User-facing facade — the one-import surface for a RedDuck user moving
  * to this engine (README.md:16-38 workflow parity):
  *
  * {{{
  * import graft.GraftRedis
  * GraftRedis.connect(spark, "127.0.0.1:6379")   // ≈ SELECT redis_connect(...)
  * val keys = GraftRedis.scan(spark, "user:*")   // ≈ FROM redis_scan('user:*')
  * val kv   = GraftRedis.kv(spark, "user:*")     // ≈ redis_kv (batched MGET)
  * GraftRedis.registerSql(spark)                 // redis_get / redis_hgetall /
  *                                               // redduck / set_name and the
  *                                               // redis_* table functions in SQL
  * }}}
  */
object GraftRedis {

  /** Validate + PING + persist the default target in session conf.
    * Returns the reference's exact status string.
    */
  def connect(spark: SparkSession, hostPort: String): String =
    functions.RedduckFunctions.redisConnect(spark, hostPort)

  /** [[connect]] with credentials ("password" or "user password"):
    * authenticates the validation PING and persists the credential in
    * session conf so every session-target read/write/TVF below uses it.
    */
  def connect(spark: SparkSession, hostPort: String, auth: String): String =
    functions.RedduckFunctions.redisConnect(spark, hostPort, Some(auth))

  private def reader(spark: SparkSession, fmt: String, pattern: String,
      numPartitionsPatterns: Seq[String]) = {
    val base = spark.read.format(fmt)
      .options(functions.RedduckFunctions.targetOptions(spark))
      .option("pattern", pattern)
    (if (numPartitionsPatterns.nonEmpty)
      base.option("partition.patterns", numPartitionsPatterns.mkString(","))
    else base).load()
  }

  /** Keyspace scan → (key_name STRING). Pass `shards` to parallelize
    * across disjoint glob patterns (one partition + connection each).
    */
  def scan(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-scan", pattern, shards)

  /** Scan + pipelined MGET → (key STRING, value STRING). */
  def kv(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-kv", pattern, shards)

  /** Write (key STRING, value STRING) rows back to Redis: per-partition
    * pipelined SET batches (idempotent upsert — safe under task retry).
    */
  def writeKv(df: DataFrame): Unit =
    df.write.format("redis-kv")
      .options(functions.RedduckFunctions.targetOptions(df.sparkSession))
      .mode("append").save()

  /** The Redis SQL table functions, each defined once: the extension
    * injects these, and [[registerSql]] registers the same ones on an
    * existing session. The builders read the `redis_connect` target of
    * the ACTIVE session (they run inside analysis, where a session is
    * always active), so `redis_connect(...)` → `SELECT * FROM
    * redis_scan(...)` behaves like the reference's global-target flow.
    * Arguments must be literal (foldable) strings — the restriction the
    * reference enforces by evaluating the pattern at bind time.
    */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = {
    def plan(df: DataFrame) = org.apache.spark.sql.GraftSqlShims.logicalPlan(df)
    def active = SparkSession.active
    Seq(
      "redis_scan" -> (es => plan(scan(active, patternArg(es, "redis_scan")))),
      "redis_kv" -> (es => plan(kv(active, patternArg(es, "redis_kv")))),
      "redis_hash" -> (es => plan(hash(active, patternArg(es, "redis_hash")))),
      // Redis Streams batch face: SELECT * FROM redis_stream('events') —
      // or several streams at once, redis_stream('a', 'b', ...), which
      // returns the multi-stream shape with the leading `stream` column
      "redis_stream" -> (es => plan(stringArgs(es) match {
        case keys if keys.isEmpty || keys.length != es.length =>
          throw new IllegalArgumentException(
            "redis_stream expects one or more literal string stream keys, " +
              "e.g. redis_stream('events') or redis_stream('a', 'b')")
        case Seq(one) => stream(active, one)
        case many => streams(active, many)
      })))
  }

  /** The literal string values among a call's arguments. */
  private def stringArgs(es: Seq[Expression]): Seq[String] = es.flatMap { e =>
    if (e.foldable && e.dataType == StringType) Option(e.eval()).map(_.toString) else None
  }

  private def patternArg(es: Seq[Expression], fn: String): String = stringArgs(es) match {
    case Seq(p) if es.length == 1 => p
    case _ => throw new IllegalArgumentException(
      s"$fn expects exactly one literal string pattern, e.g. $fn('user:*')")
  }

  /** Register the SQL scalar surface (with the Redis lookup's rule and
    * planner, see `RedduckFunctions.registerAll`), the Redis table
    * functions and the engine's optimizer rules on an existing session —
    * the same table functions and rules `GraftSparkExtensions` injects.
    * After this, the reference's primary
    * syntax parses as-is (the reference's README.md:24 and
    * test/sql/scan.test:20):
    *
    * {{{
    * SELECT * FROM redis_scan('testkey:*');
    * SELECT key, value FROM redis_kv('user:*');
    * }}}
    */
  def registerSql(spark: SparkSession): Unit = {
    functions.RedduckFunctions.registerAll(spark)
    val reg = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    spark.experimental.extraOptimizations ++=
      GraftSparkExtensions.optimizerRules.filterNot(spark.experimental.extraOptimizations.contains)
  }

  /** Hash keys → (key STRING, fields MAP<STRING,STRING>). */
  def hash(spark: SparkSession, pattern: String = "*",
      shards: Seq[String] = Nil): DataFrame =
    reader(spark, "redis-hash", pattern, shards)

  /** Redis Stream contents, batch face → (entry_id, fields MAP). */
  def stream(spark: SparkSession, key: String): DataFrame =
    spark.read.format("redis-stream")
      .options(functions.RedduckFunctions.targetOptions(spark))
      .option("stream", key).load()

  /** Several streams at once, batch face → (stream, entry_id, fields)
    * — the multi-stream read's leading origin column.
    */
  def streams(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.read.format("redis-stream")
      .options(functions.RedduckFunctions.targetOptions(spark))
      .option("streams", keys.mkString(",")).load()

  /** Trim a stream to (approximately) its newest `maxLen` entries —
    * `XTRIM key MAXLEN ~ n`, the retention lever the source's replay
    * contract points at (size it to exceed checkpoint lag). Returns
    * entries removed. The sink-side dual is `.option("maxlen", n)`
    * (inline `XADD ... MAXLEN ~ n`).
    */
  def trimStream(spark: SparkSession, key: String, maxLen: Long,
      approx: Boolean = true): Long = {
    val (host, port) = functions.RedduckFunctions.target(spark)
    scala.util.Using.resource(new net.RedisConnection(host, port,
        net.RedisLink(functions.RedduckFunctions.sessionAuth(spark))))(
      net.RedisCommands.xtrim(_, key, maxLen, approx))
  }

  /** Redis Stream as a fault-tolerant Structured Streaming source:
    * entry-id offsets, exactly-once replay (see
    * `sources.RedisStreamEntriesProvider`).
    */
  def entryStream(spark: SparkSession, key: String,
      maxEntriesPerTrigger: Option[Int] = None): DataFrame =
    spark.readStream.format("redis-stream")
      .options(functions.RedduckFunctions.targetOptions(spark))
      .option("stream", key)
      .options(maxEntriesPerTrigger.map(n => "maxEntriesPerTrigger" -> n.toString).toMap)
      .load()

  /** XADD rows into a Redis Stream (batch face; at-least-once — see
    * the sink's contract in `RedisStreamSource.scala`).
    */
  def writeStreamEntries(df: DataFrame, key: String): Unit =
    df.write.format("redis-stream")
      .options(functions.RedduckFunctions.targetOptions(df.sparkSession))
      .option("stream", key)
      .mode("append").save()
}
