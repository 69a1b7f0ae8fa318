package graft.util

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression,
  InterpretedUnsafeProjection, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A pure projection (`DataFrame => DataFrame`, row in, row out) that is
  * planned and compiled once per JVM instead of once per use.
  *
  * A Catalyst build of a large expression tree costs driver time at
  * every use: analysis and optimization of the tree, then a Janino
  * compile of its projection class, which Spark's 100-entry class cache
  * evicts whenever a job compiles more than 100 other classes in
  * between. `Normalize.features` (a ~10^4-node tree, a ~1 MB class)
  * paid both on every 50-doc incremental batch.
  *
  * Here the build runs once per input schema against an empty leaf; its
  * optimized plan must be a chain of `Project`s over that leaf (a join,
  * filter, aggregate, generator, subquery or nondeterministic expression
  * is rejected). Each project list is bound to its child's output. An
  * application maps the input's `toRdd` partitions through the bound
  * projections. The compiled projections are pooled JVM-wide: a task
  * borrows one set and returns it when it completes, so the cache
  * cannot evict them. They are generated code whatever the session's
  * codegen factory mode (an incremental batch runs everything else
  * interpreted): a pooled set outlives the window it was first built
  * in. Only a compile error falls back to an interpreted projection.
  *
  * The plan is keyed on the input schema, the build's parameters and the
  * session SQL confs that change what an expression computes. The
  * expressions are the build's own, so the output equals the direct
  * Catalyst build row for row, with the same schema (PreparedSpec).
  *
  * Applying runs the input's query eagerly up to its last exchange
  * (`toRdd` executes adaptive query stages), so it belongs inside the
  * stage boundary that materializes its output: graft.util.Materialize
  * takes its frame by name for this.
  */
final class Prepared[P](name: String, build: (DataFrame, P) => DataFrame) {
  import Prepared._

  private val plans = new ConcurrentHashMap[(StructType, P, Seq[(String, String)]), Plan]()

  def apply(df: DataFrame, params: P): DataFrame = {
    val spark = df.sparkSession
    val key = (df.schema, params, semanticConfs(spark))
    val plan = Option(plans.get(key)).getOrElse {
      val p = prepare(spark, df.schema, params)
      Option(plans.putIfAbsent(key, p)).getOrElse(p)
    }
    val (id, lists) = (plan.id, plan.lists)
    val rows = df.queryExecution.toRdd
      .mapPartitions(it => project(id, lists, it), preservesPartitioning = true)
    // the input's size estimate scaled by the row widths, as the planner
    // estimates a Project: downstream joins plan as they did before
    val input = df.queryExecution.optimizedPlan
    val size = input.stats.sizeInBytes * plan.rowSize / EstimationUtils.getSizePerRow(input.output)
    GraftSqlBridge.fromInternal(spark, rows, plan.schema, Some(size.max(1)))
  }

  /** The projection sets pooled for this projection's plans. */
  private[graft] def pooled: Seq[Seq[UnsafeProjection]] =
    plans.values.asScala.toSeq.flatMap(p => Option(pools.get(p.id)).toSeq.flatMap(_.asScala))

  private def prepare(spark: SparkSession, input: StructType, params: P): Plan = {
    val empty = spark.sparkContext.emptyRDD[InternalRow]
    val built = build(GraftSqlBridge.fromInternal(spark, empty, input), params)
    val optimized = built.queryExecution.optimizedPlan
    def chain(p: LogicalPlan): List[Project] = p match {
      case pr: Project => pr :: chain(pr.child)
      case l: LogicalRDD if l.rdd eq empty => Nil
      case other => throw new IllegalArgumentException(
        s"$name is not a pure projection: ${other.nodeName} in\n$optimized")
    }
    val projects = chain(optimized).reverse
    val exprs = projects.flatMap(_.projectList)
    exprs.find(e => !e.deterministic || e.exists(_.isInstanceOf[SubqueryExpression]))
      .foreach(e => throw new IllegalArgumentException(
        s"$name is not a pure projection: $e is nondeterministic or a subquery"))
    val lists = projects.map(p =>
      BindReferences.bindReferences[Expression](p.projectList, p.child.output))
    Plan(nextId.getAndIncrement(), lists, built.schema, EstimationUtils.getSizePerRow(optimized.output))
  }
}

object Prepared {

  def apply[P](name: String)(build: (DataFrame, P) => DataFrame): Prepared[P] =
    new Prepared(name, build)

  private final case class Plan(id: Long, lists: Seq[Seq[Expression]], schema: StructType,
      rowSize: BigInt)

  private val nextId = new AtomicLong(0)

  /** Compiled projection sets per plan id; a set is in use by at most
    * one task at a time.
    */
  private val pools = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Seq[UnsafeProjection]]]()

  /** Projection sets created so far in this JVM (a pool miss). */
  private[graft] val created = new AtomicLong(0)

  /** SQL confs an expression's result can depend on: ANSI arithmetic
    * and casts, the session time zone, name resolution, and every
    * `spark.sql.legacy.*` behaviour the session sets.
    */
  private def semanticConfs(spark: SparkSession): Seq[(String, String)] = {
    val conf = spark.conf
    val named = Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone",
      "spark.sql.caseSensitive").map(k => k -> conf.getOption(k).getOrElse(""))
    named ++ conf.getAll.filter(_._1.startsWith("spark.sql.legacy.")).toSeq.sorted
  }

  /** Generated code, falling back to interpreted only on a compile
    * error: `UnsafeProjection.create`'s default, but without reading the
    * factory mode, which a task inherits from the window it runs in.
    */
  private def compile(exprs: Seq[Expression]): UnsafeProjection =
    try GenerateUnsafeProjection.generate(exprs, SQLConf.get.subexpressionEliminationEnabled)
    catch { case NonFatal(_) => InterpretedUnsafeProjection.createProjection(exprs) }

  private def project(id: Long, lists: Seq[Seq[Expression]],
      rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val pool = pools.computeIfAbsent(id, _ => new ConcurrentLinkedQueue())
    val ps = Option(pool.poll()).getOrElse {
      created.incrementAndGet()
      lists.map(compile)
    }
    TaskContext.get().addTaskCompletionListener[Unit](_ => pool.offer(ps))
    rows.map(r => ps.foldLeft(r)((row, p) => p(row)))
  }
}
