package erbench

import erbench.Common._
import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.io.{SnapshotDiff, SnapshotStore}
import graft.jobs.ResolveJob
import graft.normalize.Normalize
import graft.score.{Ambiguity, Generic, Scoring}
import graft.sources.DocCorpus
import graft.streaming.IncrementalResolve
import graft.util.Confs
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental ingest: a synthetic corpus split by a seeded doc_id hash
  * into a base (committed during set-up) and `batches` batches of
  * `batchDocs` docs. Operation i merges batch i with
  * IncrementalResolve.processBatch and forces its affected entities to a
  * sink. Batches run in order against one snapshot store; the traced run
  * replays the same batches against a copy.
  */
final class IncrementalIngest(spark: SparkSession, work: String, seed: Long,
    entities: Long, batches: Int, batchDocs: Int) extends Workload {

  private val basePath = s"$work/inc_base"
  private val batchesPath = s"$work/inc_batches"
  private val storeDir = s"$work/inc_store"
  private val tracedStoreDir = s"$work/inc_store_traced"
  private lazy val store = new SnapshotStore(storeDir)
  private lazy val tracedStore = new SnapshotStore(tracedStoreDir)
  private var baseSize = 0L

  def docsPerOp: Long = batchDocs
  def repeatable: Boolean = false
  override def hasOp(i: Int): Boolean = i < batches

  def generate(): Unit = {
    // docs ordered by a seeded hash: the last `batches × batchDocs` form
    // the batches in order, the rest is the base
    val ranked = DocCorpus.synthetic(spark, entities, seed).toDF()
      .withColumn("rank", row_number().over(
        Window.orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))) - 1)
      .localCheckpoint(true)
    val total = ranked.count()
    baseSize = total - batches.toLong * batchDocs
    ranked.filter(col("rank") < baseSize).drop("rank")
      .write.mode("overwrite").parquet(basePath)
    ranked.filter(col("rank") >= baseSize)
      .withColumn("batch", ((col("rank") - baseSize) / batchDocs).cast("int"))
      .drop("rank").coalesce(1)
      .write.mode("overwrite").partitionBy("batch").parquet(batchesPath)
  }

  private def batchDir(b: Int): String = s"$batchesPath/batch=$b"

  /** The base (b = -1) or batch b. */
  private def batch(b: Int): DataFrame =
    spark.read.parquet(if (b < 0) basePath else batchDir(b))

  /** Docs ingested once batch `b` is merged. */
  private def corpusAfter(b: Int): Long = baseSize + (b + 1).toLong * batchDocs

  /** Commits the base through processBatch; this is also the warm-up. */
  def prepare(traced: Boolean): Unit = {
    deleteDir(storeDir); deleteDir(tracedStoreDir)
    noop(IncrementalResolve.processBatch(spark, store, batch(-1)).affectedEntities)
    if (traced) copyDir(storeDir, tracedStoreDir)
  }

  def op(b: Int): OpOutcome = {
    val t0 = System.nanoTime()
    val r = IncrementalResolve.processBatch(spark, store, batch(b))
    noop(r.affectedEntities)
    check(seconds(t0), b, r.assignments, r.newDocs, r.featurizedDocs)
  }

  private def check(wall: Double, b: Int, assignments: DataFrame, newDocs: Long,
      featurized: Long): OpOutcome = {
    val (covered, _, hash) = assignmentSummary(assignments)
    val f1 = pairF1(assignments.select(col("entity_id").as("pred"),
      synthTruth(col("doc_id")).as("truth")))
    OpOutcome(wall, hash, f1, Seq(
      "featurized docs == new docs == batch docs" ->
        (featurized == newDocs && newDocs == batchDocs),
      "assignments cover every doc" -> (covered == corpusAfter(b)),
      "pair_f1 >= 0.99" -> (f1 >= 0.99)))
  }

  /** IncrementalResolve.processBatch composed layer by layer against the
    * traced copy of the store: same steps, checkpoints, commits and
    * conf windows. The `incremental` span's self time is the merge and
    * affected-subgraph logic of IncrementalResolve itself.
    */
  def traced(b: Int, tr: Tracer): OpOutcome = {
    val st = tracedStore
    val cfg = ResolveJob.Config()
    val before = dirBytes(tracedStoreDir)
    val t0 = System.nanoTime()
    def cp(layer: String, df: DataFrame): (DataFrame, Long) = {
      val (out, m) = checkpoint(df)
      tr.addRows(layer, m("rows"))
      (out, m("rows"))
    }
    def commit(df: DataFrame, rows: Long, table: String): Unit = tr.span("snapshot") {
      st.commit(df, table)
      tr.addRows("snapshot", rows)
    }
    def read(table: String): Option[DataFrame] = tr.span("snapshot") {
      if (st.exists(table)) Some(st.read(spark, table)) else None
    }
    val res = tr.span("incremental") {
      Confs.withConfs(spark)("spark.sql.constraintPropagation.enabled" -> "false") {
        val newDocs0 = tr.span("sources")(batch(b)).select("doc_id", "spans")
          .dropDuplicates("doc_id")
        tr.addRows("sources", batchDocs)
        def contentHash(df: DataFrame): DataFrame =
          df.withColumn("_h", xxhash64(to_json(col("spans"))))
        val (allDocs, touched, nTouched) = read("docs") match {
          case Some(prev) =>
            val incoming = contentHash(newDocs0).join(
              contentHash(prev).select(col("doc_id"), col("_h").as("_h_prev")),
              Seq("doc_id"), "left")
            val (t, n) = cp("incremental", incoming
              .filter(col("_h_prev").isNull || col("_h") =!= col("_h_prev"))
              .select("doc_id", "spans"))
            val kept = prev.join(t.select("doc_id"), Seq("doc_id"), "left_anti")
            (kept.unionByName(t), t, n)
          case None =>
            val (t, n) = cp("incremental", newDocs0)
            (t, t, n)
        }
        val (docsSnap, nDocsAll) = cp("incremental", allDocs)
        val touchedIds = touched.select("doc_id").localCheckpoint(true)

        val (featsNew, _) = tr.span("normalize")(cp("normalize", Normalize.features(touched)))
        val featsRaw = read("features_raw") match {
          case Some(prev) => prev.join(touchedIds, Seq("doc_id"), "left_anti").unionByName(featsNew)
          case None => featsNew
        }
        val (featsRawSnap, nFeats) = cp("incremental", featsRaw)
        commit(featsRawSnap, nFeats, "features_raw")
        val (feats, _) = tr.span("generic")(cp("generic",
          Generic.withGenericFlags(featsRawSnap, cfg.generic)))

        val (blocksSnap, nBlocks) = tr.span("blocking") {
          val keysNew = Blocking.blockingKeys(featsNew, cfg.blocking)
          val merged = read("blocks") match {
            case Some(prev) => prev.join(touchedIds, Seq("doc_id"), "left_anti").unionByName(keysNew)
            case None => keysNew
          }
          cp("blocking", merged)
        }
        commit(blocksSnap, nBlocks, "blocks")
        val (touchingPairs, nPairs) = tr.span("blocking") {
          val blocksAll = Blocking.cappedBlocks(blocksSnap, cfg.blocking)
          val blocksNew = blocksAll.join(touchedIds, "doc_id")
          val l = blocksAll.select(col("bkey"), col("doc_id").as("doc_a"))
          val r = blocksNew.select(col("bkey"), col("doc_id").as("doc_b"))
          cp("blocking", l.join(r, Seq("bkey"))
            .filter(col("doc_a") =!= col("doc_b"))
            .select(
              least(col("doc_a"), col("doc_b")).as("doc_a"),
              greatest(col("doc_a"), col("doc_b")).as("doc_b"))
            .distinct())
        }

        val (newEdges, em) = tr.span("scoring") {
          Confs.withConfs(spark)("spark.sql.codegen.wholeStage" -> "false") {
            checkpoint(Scoring.scorePairs(touchingPairs, feats, cfg.weights),
              "resolved" -> count(when(col("level") === "RESOLVED", 1)))
          }
        }
        tr.addRows("scoring", em("rows"))

        val edges = read("edges") match {
          case Some(prev) =>
            prev.join(touchedIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
              .join(touchedIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
              .unionByName(newEdges)
          case None => newEdges
        }
        val (edgesSnap, nEdges) = cp("incremental", edges)
        commit(edgesSnap, nEdges, "edges")
        val (currResolved, nResolved) = tr.span("ambiguity") {
          cp("ambiguity", Ambiguity.suppress(edgesSnap, feats).edges
            .filter(col("level") === "RESOLVED")
            .select("doc_a", "doc_b"))
        }

        val ccObs = Observation(s"erbench_cc_${java.util.UUID.randomUUID}")
        val prevResolved = read("resolved")
        val prevAssignOpt = prevResolved.flatMap(_ => read("assignments"))
        val (assignments, nCcVerts, ccStats) = prevAssignOpt match {
          case Some(prevAssign) =>
            val changed = currResolved
              .join(prevResolved.get, Seq("doc_a", "doc_b"), "left_anti")
              .unionByName(
                prevResolved.get.join(currResolved, Seq("doc_a", "doc_b"), "left_anti"))
            val touchedVerts = changed.select(col("doc_a").as("doc_id"))
              .unionByName(changed.select(col("doc_b").as("doc_id")))
              .unionByName(touchedIds)
              .distinct()
            val affLabels = prevAssign.join(touchedVerts, Seq("doc_id"))
              .select("entity_id").distinct().localCheckpoint(true)
            val freshDocs = touchedIds
              .join(prevAssign.select("doc_id"), Seq("doc_id"), "left_anti")
            val (affDocs, nAff) = cp("incremental",
              prevAssign.join(affLabels, Seq("entity_id"), "left_semi")
                .select("doc_id")
                .unionByName(freshDocs)
                .distinct())
            val affEdges = currResolved.join(
              affDocs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
            val (sub, stats) = tr.span("cluster") {
              ConnectedComponents.assign(spark, affDocs, affEdges, cfg.checkpointDir)
            }
            val carried = prevAssign
              .join(affLabels, Seq("entity_id"), "left_anti")
              .select("doc_id", "entity_id")
            (carried.unionByName(sub.observe(ccObs, count(lit(1)).as("rows"))
              .select("doc_id", "entity_id")), nAff, stats)
          case None =>
            val (allIds, nAll) = cp("incremental", docsSnap.select("doc_id"))
            val (assign, stats) = tr.span("cluster") {
              ConnectedComponents.assign(spark, allIds, currResolved, cfg.checkpointDir)
            }
            (assign.observe(ccObs, count(lit(1)).as("rows")), nAll, stats)
        }
        val (assignSnap, nAssign) = cp("incremental", assignments)
        tr.addRows("cluster", ccObs.get("rows").asInstanceOf[Long])

        val affected = read("assignments") match {
          case Some(prev) => SnapshotDiff.affectedEntities(prev, assignSnap)
          case None => assignSnap.select("entity_id").distinct()
        }
        commit(assignSnap, nAssign, "assignments")
        commit(currResolved, nResolved, "resolved")
        commit(docsSnap, nDocsAll, "docs")
        (assignSnap, affected, nTouched, nCcVerts, ccStats, nPairs, touchingPairs, touchedIds,
          em, nDocsAll)
      }
    }
    val (assignSnap, affected, nTouched, nCcVerts, ccStats, nPairs, touchingPairs, touchedIds,
      em, nDocsAll) = res
    tr.span("snapshot")(noop(affected))
    val wall = seconds(t0)

    val written = dirBytes(tracedStoreDir) - before
    tr.add("snapshot.bytes_written", written.toDouble)
    tr.add("snapshot.write_amplification", written.toDouble / parquetBytes(batchDir(b)))
    tr.add("incremental.touched_share", nTouched.toDouble / nDocsAll)
    tr.add("incremental.cc_vertex_share", nCcVerts.toDouble / nDocsAll)
    tr.add("blocking.candidate_pairs", nPairs.toDouble)
    tr.add("blocking.pair_completeness", pairCompleteness(touchingPairs, touchedIds, assignSnap))
    tr.add("scoring.resolved_share", em("resolved").toDouble / math.max(1L, em("rows")))
    tr.add("cluster.iterations", ccStats.iterations.toDouble)
    tr.add("cluster.edge_rows", ccStats.perIterationEdges.sum.toDouble)
    check(wall, b, assignSnap, nTouched, nTouched)
  }

  /** True pairs with a touched endpoint found among the touching
    * candidate pairs ÷ all true pairs with a touched endpoint.
    */
  private def pairCompleteness(pairs: DataFrame, touchedIds: DataFrame,
      assignments: DataFrame): Double = {
    val truth = assignments.select(col("doc_id"), synthTruth(col("doc_id")).as("t"))
      .join(touchedIds.withColumn("touched", lit(1)), Seq("doc_id"), "left")
      .withColumn("touched", coalesce(col("touched"), lit(0)))
    val all = truth.groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("touched")).as("k"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2 -
        (col("n") - col("k")) * (col("n") - col("k") - 1) / 2), lit(0.0)))
      .head().getDouble(0)
    val found = pairs
      .join(truth.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(truth.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .filter(col("ta") === col("tb")).count()
    if (all == 0) 1.0 else found / all
  }
}
