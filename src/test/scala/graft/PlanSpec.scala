package graft

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
    // the docs/entries checkpoints are laid out hash(entity_id) with AQE
    // scoped off at materialization, so EVERY entity_id-prefixed groupBy
    // and every entity_id equi-join downstream must reuse that layout;
    // the only shuffles left are the related-entities band (doc-pair and
    // (entity_a, entity_b) keys) and its final per-entity fold
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

  test("hot-key suppression anti-join broadcasts the small hot head at runtime (AQE)") {
    import graft.blocking.Blocking
    import graft.normalize.Normalize
    import graft.score.Generic
    import graft.sources.DocCorpus
    val docs = DocCorpus.synthetic(spark, 500).toDF().localCheckpoint(true)
    val feats = Generic.withGenericFlags(Normalize.features(docs)).localCheckpoint(true)
    // no static broadcast hint anymore (a prefix-token caller can have
    // a LARGE hot head — see Dedup.boundedSelfJoinPairs); both sides
    // are checkpointed with exact sizes, so AQE must still pick a
    // broadcast for this tiny hot head at runtime
    val df = Blocking.candidatePairs(Blocking.blockingKeys(feats))
    df.collect() // execute THIS plan so AQE reaches its final form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }
}
