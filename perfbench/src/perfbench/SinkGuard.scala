package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Guard against sinks that Catalyst can prune. A workload's sink must
  * run the optimized plan of the frame it sinks with every projected,
  * window and aggregate expression still in place; `count()` on the same
  * frame is the counter-example (column pruning drops what it does not
  * need, which is how a `count()`-timed benchmark stops timing the work).
  */
object SinkGuard {

  /** Output columns plus the number of expressions the plan still computes. */
  final case class Profile(output: Seq[String], projections: Int, windows: Int, aggregates: Int) {
    def covers(o: Profile): Boolean =
      output == o.output && projections >= o.projections && windows >= o.windows &&
        aggregates >= o.aggregates
    override def toString: String =
      s"$projections projected, $windows window, $aggregates aggregate expressions"
  }

  def profile(plan: LogicalPlan): Profile = Profile(
    plan.output.map(_.name),
    plan.collect { case p: Project => p.projectList.count(!_.isInstanceOf[Attribute]) }.sum,
    plan.collect { case w: Window => w.windowExpressions.size }.sum,
    plan.collect { case a: Aggregate => a.aggregateExpressions.size }.sum)

  /** What the frame computes when nothing downstream prunes it. */
  def standalone(df: DataFrame): Profile = profile(df.queryExecution.optimizedPlan)

  /** What `count()` on the frame would still compute (its aggregate's child). */
  def underCount(df: DataFrame): Profile = {
    val p = df.groupBy().count().queryExecution.optimizedPlan
    profile(p.collectFirst { case a: Aggregate => a.child }.getOrElse(p)).copy(output = df.columns.toSeq)
  }

  /** The query an executed sink ran: the child of a V2 write, or the plan of a collect. */
  def sinkQuery(funcName: String, qe: QueryExecution): Option[LogicalPlan] =
    Seq(qe.optimizedPlan, qe.analyzed).flatMap(_.collectFirst { case w: V2WriteCommand => w.query })
      .headOption.orElse(if (funcName == "collect") Some(qe.optimizedPlan) else None)

  /** Runs `body` while capturing the QueryExecution of every action, then
    * waits (up to 10 s) until `sinks()` each match an executed sink query.
    */
  def capture(spark: SparkSession)(body: => Unit)(sinks: => Seq[DataFrame])
      : Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      while (inspect(sinks, seen.asScala.toSeq).exists(_._2.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  /** For each sunk frame: (standalone profile, profile the sink ran, profile under count()).
    * The sink ran is None when no executed sink produced the frame's columns.
    */
  def inspect(sinks: Seq[DataFrame], ran: Seq[(String, QueryExecution)])
      : Seq[(Profile, Option[Profile], Profile)] = {
    val executed = ran.flatMap { case (f, qe) => sinkQuery(f, qe) }.map(profile)
    sinks.map { df =>
      val want = standalone(df)
      (want, executed.find(_.output == want.output), underCount(df))
    }
  }

  /** The sinks that did not run every expression of the frame they sank. */
  def violations(inspected: Seq[(Profile, Option[Profile], Profile)]): Seq[String] =
    inspected.zipWithIndex.collect {
      case ((want, None, _), k) => s"sink $k: no executed sink produced its columns ($want)"
      case ((want, Some(got), _), k) if !got.covers(want) => s"sink $k ran $got of $want"
    }
}
