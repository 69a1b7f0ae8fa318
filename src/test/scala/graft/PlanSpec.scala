package graft

import graft.blocking.Blocking
import graft.normalize.Normalize
import graft.sources.DocCorpus
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the plans the engine produces must be
  * the plans we would want on a 1000-executor cluster — column-pruned
  * parquet scans, broadcast joins where a side is small, no cartesian
  * products, whole-stage codegen on scalar pipelines.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every executed operator, inside adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("column pruning reaches the parquet scan (er_normalize)") {
    val plan = planOf("er_normalize")
    assert(plan.contains("ReadSchema"))
    // only the two source columns are read; the untouched c_acctbal
    // (double) must not appear in the scan schema
    assert(!plan.contains("c_acctbal"), plan.linesIterator.filter(_.contains("ReadSchema")).mkString)
  }

  test("filter pushdown reaches the parquet scan (ann probes)") {
    val plan = planOf("ann_cosine_topk")
    assert(plan.contains("PushedFilters") &&
      (plan.contains("In(vec_id") || plan.contains("LessThan(vec_id") ||
        plan.contains("vec_id")), plan.take(2000))
  }

  test("small probe set is broadcast (ann_cosine_topk)") {
    assert(planOf("ann_cosine_topk").contains("BroadcastNestedLoopJoin") ||
      planOf("ann_cosine_topk").contains("BroadcastHashJoin"))
  }

  test("no cartesian product in any query plan") {
    SparkEntry.queries.keys.foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("whole-stage codegen covers scalar pipelines (ta_quality)") {
    // WholeStageCodegenExec renders as a "*(n)" prefix in plan strings;
    // the scalar projection must carry it (higher-order array functions
    // are CodegenFallback and would eject the whole Project)
    val plan = planOf("ta_quality")
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan.take(1500))
  }

  test("flagship assembly has no single-partition exchange (entity numbering is distributed)") {
    import graft.jobs.ResolveJob
    import graft.sources.DocCorpus
    val docs = DocCorpus.synthetic(spark, 100).toDF()
    val result = ResolveJob.run(spark, docs) // default cfg numbers entities
    val plan = result.entities.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      plan.linesIterator.filter(_.contains("SinglePartition")).mkString("\n"))
  }

  test("assembly rollups reuse the checkpoint's hash(entity_id) layout — no entity-keyed exchanges") {
    import graft.jobs.ResolveJob
    import graft.sources.DocCorpus
    val docs = DocCorpus.synthetic(spark, 300).toDF()
    val cfg = ResolveJob.Config(numberEntities = false)
    val result = ResolveJob.run(spark, docs, cfg)
    result.entities.write.mode("overwrite").format("noop").save()
    val plan = result.entities.queryExecution.executedPlan.toString
    // the report's rows are laid out range(ENTITY_ID) in one exchange,
    // and its one per-entity aggregation reuses that layout; the only
    // hash shuffles left are the related-entities edges (doc keys, the
    // other entity's key) and the enrichment's per-entity aggregation
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val entityKeyed = exchanges.count(_ == "entity_id")
    assert(entityKeyed <= 1, // the related-band groupBy(entity_id) fold
      s"entity_id-keyed exchanges regressed ($entityKeyed): " +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(exchanges.size <= 8,
      s"assembly exchange count regressed (${exchanges.size}): " +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("the export query stays within its aggregate and exchange budget") {
    import graft.assemble.Assemble
    import graft.jobs.ResolveJob
    import graft.sources.DocCorpus
    val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF()
    val report = Assemble.toExportJson(ResolveJob.run(spark, docs).entities)
    report.write.mode("overwrite").format("noop").save()
    // one aggregation per entity for the report and one for the
    // related-entity enrichment, each a partial/final pair; every
    // operator here is compiled and scheduled on each export (the
    // assembly before this rebuild planned 26 aggregates, 16 exchanges)
    val plan = report.queryExecution.executedPlan.toString
    val aggs = """\b(HashAggregate|ObjectHashAggregate|SortAggregate)\(""".r.findAllMatchIn(plan).size
    val exchanges = """\b(Exchange|BroadcastExchange|ReusedExchange)\b""".r.findAllMatchIn(plan).size
    assert(aggs <= 4, s"aggregate operators regressed ($aggs):\n$plan")
    assert(exchanges <= 8, s"exchanges regressed ($exchanges):\n$plan")
  }

  test("generic flags are joins against the hot frame — no driver-collected literal sets") {
    import graft.normalize.Normalize
    import graft.score.Generic
    import graft.sources.DocCorpus
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val docs = DocCorpus.synthetic(spark, 300).toDF().localCheckpoint(true)
    val flagged = Generic.withGenericFlags(Normalize.features(docs).localCheckpoint(true))
    var maxIn = 0
    flagged.queryExecution.optimizedPlan.foreach(node =>
      node.expressions.foreach(_.foreach {
        case i: In    => maxIn = math.max(maxIn, i.list.size)
        case i: InSet => maxIn = math.max(maxIn, i.hset.size)
        case _        =>
      }))
    assert(maxIn <= 32, s"flags projection contains a literal In set of $maxIn elements")
    val phys = flagged.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys.take(1500))
  }

  test("withGenericFlags plans exactly one BroadcastExchange") {
    import graft.normalize.Normalize
    import graft.score.Generic
    import graft.sources.DocCorpus
    val docs = DocCorpus.synthetic(spark, 300).toDF().localCheckpoint(true)
    val flagged = Generic.withGenericFlags(Normalize.features(docs).localCheckpoint(true))
    flagged.write.mode("overwrite").format("noop").save()
    // the hot frame is the only build side broadcast, for every family;
    // the per-doc flags grow with the corpus and are joined by shuffle
    val phys = flagged.queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllMatchIn(phys).size == 1, phys)
  }

  test("pair scoring broadcasts the features once and filters on no comparator") {
    import graft.score.{Generic, Scoring}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF().localCheckpoint(true)
    val feats = Generic.withGenericFlags(Normalize.features(docs)).localCheckpoint(true)
    val pairs = Blocking.candidatePairs(Blocking.blockingKeys(feats)).localCheckpoint(true)
    val joined = Scoring.pairFeatures(pairs, feats, broadcastFeatures = true)
    val scored = Scoring.scorePairs(pairs, feats, broadcastFeatures = true)
    // execute THESE plans, so AQE reaches its final form
    Seq(joined, scored).foreach(_.collect())
    val ops = Seq(joined, scored).flatMap(df => nodes(df.queryExecution.executedPlan))
    val joinOps = nodes(joined.queryExecution.executedPlan)
    assert(joinOps.count(_.isInstanceOf[BroadcastHashJoinExec]) == 2, joined.queryExecution)
    assert(joinOps.count(_.isInstanceOf[BroadcastExchangeExec]) == 1,
      s"the two feature sides are not one broadcast:\n${joined.queryExecution.executedPlan}")
    val conditions = ops.collect {
      case f: FilterExec => f.condition.sql
      case j: BaseJoinExec if j.condition.isDefined => j.condition.get.sql
    }
    assert(!conditions.exists(_.contains("given_name_sim")), conditions.mkString("\n"))
  }

  /** The executed operators of the candidate-pair query, run so AQE
    * reaches its final form, at toy bounds under which the synthetic
    * corpus has cold, hot and mega keys.
    */
  private lazy val tieredPairPlan: Seq[SparkPlan] = {
    val docs = DocCorpus.synthetic(spark, 2000, seed = 13L).toDF().localCheckpoint(true)
    val df = Blocking.candidatePairs(
      Blocking.blockingKeys(Normalize.features(docs)).localCheckpoint(true),
      Blocking.Config(maxBlockSize = 4, megaCap = 16, salts = 16))
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  test("the hot head is broadcast into the salt-count left outer join at runtime (AQE)") {
    // no static broadcast hint (a prefix-token caller can have a LARGE
    // hot head — see Dedup.boundedSelfJoinPairs); both sides are
    // checkpointed with exact sizes, so AQE must still pick a broadcast
    // for this small hot head at runtime
    assert(tieredPairPlan.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter && j.buildSide == BuildRight
      case _ => false
    }, tieredPairPlan.head.toString)
  }

  test("one self-join generates the candidate pairs of every tier") {
    val selfJoins = tieredPairPlan.collect {
      case j: BaseJoinExec if j.left.output.exists(_.name == "doc_a") &&
          j.right.output.exists(_.name == "doc_b") => j
    }
    assert(selfJoins.size == 1, tieredPairPlan.head.toString)
  }
}
