package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.net.{RedisCommands, RedisConnection, RedisLink}
import graft.resp.RespCodec
import graft.sources.{RedisMapColumn, RedisStringColumn}

/** A Redis lookup of each child row's `key`, appended to the row as
  * `value`: GET for `redis_get` and `withRedisValues`, HGETALL for
  * `redis_hgetall` and `withHashFields`. SQL calls become this node
  * through [[RedisLookup.Lift]], DataFrame calls build it directly, and
  * [[RedisLookup.Planner]] plans it into [[RedisLookupExec]].
  */
final case class RedisLookup(key: Expression, kind: RedisLookup.Kind, value: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ value
  override def producedAttributes: AttributeSet = AttributeSet(value)
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan = copy(child = newChild)
}

object RedisLookup {

  /** Keys per round trip. */
  val Batch = 512

  /** What a lookup reads, and from where: a NULL key is not sent and
    * gives NULL; a missing string gives NULL, or '' when `legacyEmpty`; a
    * missing hash gives an empty map; a key of another type fails.
    */
  final case class Kind(hash: Boolean, host: String, port: Int, link: RedisLink,
      legacyEmpty: Boolean, batchSize: Int = Batch) {
    require(batchSize >= 1, s"a lookup batch holds at least one key, got $batchSize")
    def name: String = if (hash) "redis_hgetall" else "redis_get"
    def dataType: DataType = if (hash) MapType(StringType, StringType) else StringType
    override def toString: String = s"$name $host:$port"
  }

  /** `redis_get(key)` / `redis_hgetall(key)` in SQL. Non-deterministic, so
    * Spark neither folds nor duplicates it, admits it only in Project,
    * Filter, Aggregate and Window, and pulls it out of grouping expressions
    * (a user-defined expression's); unevaluable, because [[Lift]] replaces
    * each call with a [[RedisLookup]] under the node that holds it.
    */
  final case class Call(key: Expression, kind: Kind)
      extends UnaryExpression with ImplicitCastInputTypes with Unevaluable with UserDefinedExpression {
    override def name: String = kind.name
    override def child: Expression = key
    override lazy val deterministic: Boolean = false
    override def dataType: DataType = kind.dataType
    override def nullable: Boolean = true
    override def inputTypes = Seq(StringType) // the parent's element type is private[sql]
    override def prettyName: String = kind.name
    override protected def stringArgs: Iterator[Any] = Iterator(key)
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(key = newChild)
  }

  /** Lifts every [[Call]] of a node into a [[RedisLookup]] under it, inner
    * calls first, and puts the lookup's value in the call's place. A call
    * of an aggregate outside its aggregate functions is grouped by, like
    * the grouping expression its key is made of.
    */
  object Lift extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[Call])) => lift(p)
    }

    private def lift(p: LogicalPlan): LogicalPlan = p match {
      case u: UnaryNode =>
        val lookups = Seq.newBuilder[(Call, Attribute)]
        val rewritten = u.transformExpressionsUp { case c: Call =>
          val a = AttributeReference(c.prettyName, c.dataType)()
          lookups += c -> a
          a
        }
        val lifted = lookups.result()
        val child = lifted.foldLeft(u.child) { case (in, (c, a)) =>
          if (!c.key.references.subsetOf(in.outputSet)) throw new IllegalArgumentException(
            s"${c.prettyName}: the key ${c.key.sql} is not a column of the rows under ${u.nodeName}")
          RedisLookup(c.key, c.kind, a, in)
        }
        val node = (rewritten match {
          case a: Aggregate =>
            val values = AttributeSet(lifted.map(_._2))
            a.copy(groupingExpressions = a.groupingExpressions ++
              a.aggregateExpressions.flatMap(outsideAggregates).filter(values.contains))
          case other => other
        }).withNewChildren(Seq(child))
        if (node.output == u.output) node else Project(u.output, node)
      case _ => throw new IllegalArgumentException(
        s"redis_get/redis_hgetall cannot run in ${p.nodeName}")
    }

    private def outsideAggregates(e: Expression): Seq[Attribute] = e match {
      case _: AggregateExpression => Nil
      case a: Attribute => Seq(a)
      case _ => e.children.flatMap(outsideAggregates)
    }
  }

  object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case RedisLookup(key, kind, value, child) => RedisLookupExec(key, kind, value, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Lift]] and [[Planner]] to `spark`, once. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraOptimizations.contains(Lift)) x.extraOptimizations = x.extraOptimizations :+ Lift
    if (!x.extraStrategies.contains(Planner)) x.extraStrategies = Planner +: x.extraStrategies
  }

  private val Mget = "MGET".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The rows of one partition with their values appended, looked up
    * `kind.batchSize` rows at a time: one MGET, or one write of HGETALLs,
    * per batch with a key. The connection opens at the first such batch
    * and closes when the task completes.
    */
  private[plans] final class Rows(rows: Iterator[InternalRow], key: Expression, kind: Kind,
      emit: UnsafeProjection) extends Iterator[InternalRow] {
    private val batch = new Array[InternalRow](kind.batchSize)
    // the batch's non-NULL keys, and each row's index among them (-1: NULL)
    private val keys = new Array[UTF8String](kind.batchSize)
    private val slot = new Array[Int](kind.batchSize)
    private var n, at = 0
    private val cmd = new RespCodec.CommandBuffer()
    private val values = new RespCodec.ArrayView
    private val hashes = new RedisCommands.HashReplies
    private var column: org.apache.spark.sql.vectorized.ColumnVector = _
    private var conn: RedisConnection = _
    private val value = new GenericInternalRow(1)
    private val joined = new JoinedRow

    override def hasNext: Boolean = at < n || { fill(); at < n }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val j = slot(at)
      value.update(0,
        if (j < 0) null
        else if (kind.hash) column.getMap(j)
        else if (!column.isNullAt(j)) column.getUTF8String(j)
        else if (kind.legacyEmpty) UTF8String.EMPTY_UTF8
        else null)
      at += 1
      emit(joined(batch(at - 1), value))
    }

    private def fill(): Unit = {
      n = 0
      at = 0
      var sent = 0
      while (n < batch.length && rows.hasNext) {
        val row = rows.next().copy()
        val k = key.eval(row).asInstanceOf[UTF8String]
        batch(n) = row
        slot(n) = if (k == null) -1 else { keys(sent) = k; sent += 1; sent - 1 }
        n += 1
      }
      if (sent > 0) fetch(sent)
    }

    private def fetch(sent: Int): Unit = {
      if (conn == null) {
        val c = new RedisConnection(kind.host, kind.port, kind.link)
        TaskContext.get().addTaskCompletionListener[Unit](_ => c.close())
        conn = c
      }
      cmd.clear()
      if (!kind.hash) { cmd.header(sent + 1); cmd.bulk(Mget) }
      var j = 0
      while (j < sent) {
        if (kind.hash) RedisCommands.hgetallCommand(cmd, keys(j)) else cmd.bulk(keys(j))
        j += 1
      }
      column =
        if (kind.hash) {
          RedisCommands.hgetallView(conn, cmd, sent, hashes, keys(_).getBytes, wrongTypeEmpty = false)
          new RedisMapColumn(hashes, sent, RedisMapColumn.Sorted)
        } else {
          RedisCommands.mgetView(conn, cmd, sent, values)
          RedisStringColumn.of(values)
        }
    }
  }
}

/** Plans [[RedisLookup]]: each partition reads its child's rows in
  * batches, encodes the batch's command from the keys' UTF-8 bytes, reads
  * the replies in place, copies each value byte once into a column, and
  * emits each child row with its value appended.
  */
final case class RedisLookupExec(key: Expression, kind: RedisLookup.Kind, value: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ value
  override def producedAttributes: AttributeSet = AttributeSet(value)

  override protected def doExecute(): RDD[InternalRow] = {
    val (key, kind, input, output) = (this.key, this.kind, child.output, this.output)
    child.execute().mapPartitionsWithIndex { (index, rows) =>
      val bound = BindReferences.bindReference(key, input)
      bound.foreach { case n: Nondeterministic => n.initialize(index); case _ => }
      new RedisLookup.Rows(rows, bound, kind, UnsafeProjection.create(output, output))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan = copy(child = newChild)
}
