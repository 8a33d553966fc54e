package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructField, StringType, StructType}

import graft.net.{RedisCommands, RedisConnection, RedisLink}

/** Scalar-function parity surface (reference registrations at
  * /root/reference/src/redduck_extension.cpp:348-362).
  *
  * Session state: the reference keeps one process-global host/port set
  * by `redis_connect` (redduck_extension.cpp:44-52). Here connector
  * options are authoritative and `spark.redduck.host/port` session conf
  * provides defaults; `redis_connect` writes that conf from the driver
  * (README-parity) while each task opens its own connection lazily
  * (SURVEY §7.4 decision 1).
  */
object RedduckFunctions {

  val HostConf = "spark.redduck.host"
  val PortConf = "spark.redduck.port"

  /** Session-default credentials ("password" or "user password" — the
    * Redis 6 ACL form): connector `.option("password", …)` is
    * authoritative per-read; this conf backs the UDF/session surface the
    * same way HostConf/PortConf do. Never echoed by [[redisConnect]]'s
    * status string — and the conf key deliberately contains "password"
    * so Spark's DEFAULT redaction regex (`(?i)secret|password|token|
    * access[.]key`) masks it in `SET -v`, the UI environment tab, and
    * event logs without any extra configuration.
    */
  val AuthConf = "spark.redduck.auth.password"

  def sessionAuth(spark: SparkSession): Option[String] =
    spark.conf.getOption(AuthConf).filter(_.nonEmpty)

  /** Bug-compat flag (SURVEY §1.2): the reference returns "" for a missing
    * key (redis_client.cpp:232-236, GET on absent key → empty string,
    * indistinguishable from an empty value). Our default is SQL NULL —
    * set this conf to "true" before registering/calling to reproduce the
    * reference's behavior during migrations.
    */
  val LegacyEmptyConf = "spark.redduck.legacyEmptyStringForMissingKey"

  private def legacyEmpty(spark: SparkSession): Boolean =
    spark.conf.get(LegacyEmptyConf, "false").toBoolean

  /** Parse + validate `host:port`, PING it from the driver, persist it in
    * session conf, return the reference's exact status string
    * (redduck_extension.cpp:112-118). Mirrors `SetAddressScalarFun`
    * (:54-119) including eager connect; the constant-only restriction
    * becomes natural (one driver-side call, not a per-row function).
    */
  def redisConnect(spark: SparkSession, target: String,
      auth: Option[String] = None): String = {
    val idx = target.indexOf(':')
    require(idx > 0 && idx < target.length - 1, s"expected 'host:port', got '$target'")
    val host = target.substring(0, idx)
    val port = try target.substring(idx + 1).toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid port in '$target'") }
    // Credentials are per-connect: auth = None means "this target needs
    // none", NOT "reuse whatever a previous connect stored" — otherwise
    // retargeting from an authed server to an open one replays the stale
    // password (the server answers "ERR Client sent AUTH, but no password
    // is set" and the eager ping fails loudly) with no API way out.
    // connect(target, None) therefore also DROPS the persisted credential.
    val c = new RedisConnection(host, port, RedisLink(auth))
    try c.ping() finally c.close()
    spark.conf.set(HostConf, host)
    spark.conf.set(PortConf, port.toString)
    auth match {
      case Some(a) => spark.conf.set(AuthConf, a)
      case None => spark.conf.unset(AuthConf)
    }
    s"Redis Target Set: $host:$port" // reference-exact; never echoes creds
  }

  def target(spark: SparkSession): (String, Int) =
    (spark.conf.get(HostConf, "127.0.0.1"), spark.conf.get(PortConf, "6379").toInt)

  /** The session's `redis_connect` target as reader/writer options: host,
    * port and, when one is set, the credential under `password` — the
    * option name Spark's default redaction regex masks in plan dumps.
    */
  def targetOptions(spark: SparkSession): Map[String, String] = {
    val (host, port) = target(spark)
    Map("host" -> host, "port" -> port.toString) ++ sessionAuth(spark).map("password" -> _)
  }

  /** The Redis connection of the task that evaluates a lookup: opened at
    * its first use in the task, closed when the task completes. A closure
    * that captures it is deserialized afresh for each task, so no
    * connection serves two tasks; outside a task (driver-side constant
    * folding, a local relation) each use opens and closes its own.
    */
  private final class TaskConnection(host: String, port: Int, link: RedisLink)
      extends Serializable {
    @transient private var task: TaskContext = _
    @transient private var conn: RedisConnection = _

    def apply[T](f: RedisConnection => T): T = TaskContext.get() match {
      case null => scala.util.Using.resource(new RedisConnection(host, port, link))(f)
      case tc =>
        if (conn == null) {
          val c = new RedisConnection(host, port, link)
          tc.addTaskCompletionListener[Unit](_ => c.close())
          conn = c
          task = tc
        } else if (tc ne task) throw new IllegalStateException(
          s"the Redis connection to $host:$port of task ${task.taskAttemptId()} " +
            s"was reached from task ${tc.taskAttemptId()}: a connection serves one task")
        f(conn)
    }
  }

  /** Register the SQL-facing UDFs on a session. `redis_get`/`redis_hgetall`
    * capture the session's target at registration time (executor closures
    * cannot read driver conf).
    */
  def registerAll(spark: SparkSession): Unit = {
    val (host, port) = target(spark)
    val conn = new TaskConnection(host, port, RedisLink(sessionAuth(spark)))
    val missingDefault: String = if (legacyEmpty(spark)) "" else null

    // demo scalars, kept for smoke-test parity (redduck_extension.cpp:17-40)
    spark.udf.register("redduck", (name: String) => s"Redduck $name 🐥")
    spark.udf.register("set_name", (_: String) => "name is set")

    // per-row point lookup over the task's connection. Missing
    // key → SQL NULL (deliberate divergence from the reference's "",
    // redis_client.cpp:232-236; see SURVEY §1.2) unless LegacyEmptyConf
    // was set at registration time.
    spark.udf.register("redis_get", (key: String) =>
      if (key == null) null else conn(RedisCommands.get(_, key).getOrElse(missingDefault)))

    spark.udf.register("redis_hgetall", (key: String) =>
      if (key == null) null else conn(RedisCommands.hgetall(_, key)))
  }

  /** Keys per round trip of [[withRedisValues]] and [[withHashFields]]. */
  private val LookupBatch = 512

  /** The batch loop of [[withRedisValues]] and [[withHashFields]]: appends
    * `out` to each row of `df`, `fetch`ing the values of each batch's
    * non-NULL `key`s in one round trip over the task's connection, which
    * the first batch with a key opens (an all-NULL input needs no server).
    * A NULL key is not sent and yields NULL.
    */
  private def lookup(df: DataFrame, key: Column, out: StructField, batchSize: Int,
      hostPort: Option[(String, Int)], auth: Option[String])(
      fetch: (RedisConnection, Seq[String]) => Seq[Any]): DataFrame = {
    val spark = df.sparkSession
    val (host, port) = hostPort.getOrElse(target(spark))
    val conn = new TaskConnection(host, port, RedisLink(auth.orElse(sessionAuth(spark))))
    val keyIdx = df.schema.length // `key`, behind the row's own columns
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(
      StructType(df.schema.fields :+ out))
    df.select(col("*"), key).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { group =>
        val keys = group.filterNot(_.isNullAt(keyIdx)).map(_.getString(keyIdx))
        val values = if (keys.isEmpty) Iterator.empty else conn(fetch(_, keys)).iterator
        group.iterator.map { row =>
          Row.fromSeq(row.toSeq.take(keyIdx) :+ (if (row.isNullAt(keyIdx)) null else values.next()))
        }
      }
    }(enc)
  }

  /** Batched `redis_get`: resolves `keyCol` for a whole DataFrame with one
    * pipelined MGET per `batchSize` rows per partition — the structural
    * fix for the reference's one-round-trip-per-row cost model
    * (redduck_extension.cpp:327-342; SURVEY §3.3). This is the form to
    * use at scale; the UDF above is row-at-a-time parity. As there, a
    * NULL key is not sent and yields NULL. `keyCol` must be a STRING
    * column (IllegalArgumentException otherwise).
    */
  def withRedisValues(df: DataFrame, keyCol: String, valueCol: String = "value",
      batchSize: Int = LookupBatch, hostPort: Option[(String, Int)] = None,
      auth: Option[String] = None): DataFrame = {
    val keyType = df.schema(keyCol).dataType
    if (keyType != StringType)
      throw new IllegalArgumentException(
        s"withRedisValues: key column '$keyCol' must be STRING, got ${keyType.sql}")
    val missingDefault: String = if (legacyEmpty(df.sparkSession)) "" else null
    lookup(df, col(keyCol), StructField(valueCol, StringType, nullable = true), batchSize,
        hostPort, auth)(RedisCommands.mget(_, _).map(_.getOrElse(missingDefault)))
  }

  /** `redis_hgetall` as a typed column on a keys DataFrame: MapType by
    * default (hash fields are dynamic); project to a struct by passing a
    * user schema (README.md:36-38 claims STRUCT output — SURVEY §7.4
    * decision 5 makes Map the honest default). Batched like
    * [[withRedisValues]], one write of HGETALLs per batch: a missing key
    * is an empty map, a NULL key NULL, and a key of another type fails.
    */
  def withHashFields(df: DataFrame, keyCol: String, structSchema: Option[StructType] = None,
      hostPort: Option[(String, Int)] = None, auth: Option[String] = None): DataFrame = {
    val withMap = lookup(df, col(keyCol).cast(StringType),
        StructField("hash", MapType(StringType, StringType), nullable = true), LookupBatch,
        hostPort, auth)(RedisCommands.hgetallPipelined(_, _, wrongTypeEmpty = false))
    structSchema match {
      case None => withMap
      case Some(st) =>
        val fields = st.fields.map(f => withMap("hash").getItem(f.name).cast(f.dataType).as(f.name))
        withMap.select(col("*") +: fields.toIndexedSeq: _*).drop("hash")
    }
  }

  /** Column-level demo scalars (expression form — codegen'd, no UDF). */
  def redduck(c: Column): Column = concat(lit("Redduck "), c, lit(" 🐥"))
  def setName(c: Column): Column = lit("name is set")
}
