package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.net.{RedisConnection, RedisLink}
import graft.plans.RedisLookup

/** Scalar-function parity surface (reference registrations at
  * /root/reference/src/redduck_extension.cpp:348-362).
  *
  * Session state: the reference keeps one process-global host/port set
  * by `redis_connect` (redduck_extension.cpp:44-52). Here connector
  * options are authoritative and `spark.redduck.host/port` session conf
  * provides defaults; `redis_connect` writes that conf from the driver
  * (README-parity) while each task of a lookup opens its own connection
  * at its first key (SURVEY §7.4 decision 1).
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

  /** Register the SQL scalar surface on a session. `redis_get` and
    * `redis_hgetall` capture the session's target and the legacy-empty
    * flag at registration time (executors cannot read driver conf); each
    * call runs as a batched [[RedisLookup]].
    */
  def registerAll(spark: SparkSession): Unit = {
    // demo scalars, kept for smoke-test parity (redduck_extension.cpp:17-40)
    spark.udf.register("redduck", (name: String) => s"Redduck $name 🐥")
    spark.udf.register("set_name", (_: String) => "name is set")

    // Missing key → SQL NULL (deliberate divergence from the reference's
    // "", redis_client.cpp:232-236; see SURVEY §1.2) unless LegacyEmptyConf
    // was set at registration time.
    val (host, port) = target(spark)
    Seq(false, true).foreach { hash =>
      val kind = RedisLookup.Kind(hash, host, port, RedisLink(sessionAuth(spark)), legacyEmpty(spark))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(kind.name, {
        case Seq(key) => RedisLookup.Call(key, kind)
        case es => throw new IllegalArgumentException(s"${kind.name} takes one key, got ${es.length} arguments")
      }, "scala_udf")
    }
    RedisLookup.install(spark)
  }

  /** `df` with the value of each row's `keyCol`, cast to STRING, appended
    * as `name`, read by a [[RedisLookup]] of `kind`.
    */
  private[graft] def lookup(df: DataFrame, keyCol: String, name: String,
      kind: RedisLookup.Kind): DataFrame = {
    val spark = df.sparkSession
    RedisLookup.install(spark)
    val plan = GraftSqlShims.analyzedPlan(df)
    val key = plan.resolveQuoted(keyCol, spark.sessionState.conf.resolver).getOrElse(
      throw new IllegalArgumentException(s"no column '$keyCol' in ${df.columns.mkString(", ")}"))
    val keyString =
      if (key.dataType == StringType) key
      else Cast(key, StringType, Some(spark.sessionState.conf.sessionLocalTimeZone))
    GraftSqlShims.ofRows(spark,
      RedisLookup(keyString, kind, AttributeReference(name, kind.dataType)(), plan))
  }

  /** A lookup to `hostPort` (default: the session's target) as `auth`
    * (default: the session's credential).
    */
  private def kind(spark: SparkSession, hash: Boolean, batchSize: Int,
      hostPort: Option[(String, Int)], auth: Option[String]): RedisLookup.Kind = {
    val (host, port) = hostPort.getOrElse(target(spark))
    RedisLookup.Kind(hash, host, port, RedisLink(auth.orElse(sessionAuth(spark))), legacyEmpty(spark), batchSize)
  }

  /** Batched `redis_get`: resolves `keyCol` for a whole DataFrame with one
    * MGET per `batchSize` rows per partition — the structural fix for the
    * reference's one-round-trip-per-row cost model
    * (redduck_extension.cpp:327-342; SURVEY §3.3), and the same operator
    * SQL `redis_get` runs. A NULL key is not sent and yields NULL.
    * `keyCol` must be a STRING column (IllegalArgumentException otherwise).
    */
  def withRedisValues(df: DataFrame, keyCol: String, valueCol: String = "value",
      batchSize: Int = RedisLookup.Batch, hostPort: Option[(String, Int)] = None,
      auth: Option[String] = None): DataFrame = {
    val keyType = df.schema(keyCol).dataType
    if (keyType != StringType)
      throw new IllegalArgumentException(
        s"withRedisValues: key column '$keyCol' must be STRING, got ${keyType.sql}")
    lookup(df, keyCol, valueCol, kind(df.sparkSession, hash = false, batchSize, hostPort, auth))
  }

  /** `redis_hgetall` as a typed column on a keys DataFrame: MapType by
    * default (hash fields are dynamic); project to a struct by passing a
    * user schema (README.md:36-38 claims STRUCT output — SURVEY §7.4
    * decision 5 makes Map the honest default). The key is cast to STRING
    * and batched like [[withRedisValues]], one write of HGETALLs per batch:
    * a missing key is an empty map, a NULL key NULL, and a key of another
    * type fails.
    */
  def withHashFields(df: DataFrame, keyCol: String, structSchema: Option[StructType] = None,
      hostPort: Option[(String, Int)] = None, auth: Option[String] = None): DataFrame = {
    val withMap = lookup(df, keyCol, "hash", kind(df.sparkSession, hash = true, RedisLookup.Batch, hostPort, auth))
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
