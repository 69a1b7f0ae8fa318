package graft.jobs

import graft.assemble.Assemble
import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.io.SnapshotStore
import graft.normalize.Normalize
import graft.score.{Ambiguity, Generic, Scoring}
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch resolve: the Spark-native equivalent of the
  * reference's consumer + redoer pair (/root/reference/middleware/
  * consumer.py:173-245, redoer.py:105-216). One declarative pass:
  *
  *   docs → normalize/extract → blocking → candidate join → score →
  *   edges → connected components (iterate, checkpoint) → assignments
  *   → entity assembly
  *
  * Stage boundaries are materialized eagerly — this truncates the
  * LOGICAL plan (the normalize projection is a ~10^4-node expression
  * tree; letting downstream stages carry N copies of it costs minutes
  * of driver CPU in Catalyst transforms) and is the resumability story:
  * with `snapshotRoot` set, each boundary is an atomic snapshot commit
  * with per-partition lineage rows, and a restarted run resumes from
  * the last committed stage.
  */
object ResolveJob {

  final case class Config(
      blocking: Blocking.Config = Blocking.Config(),
      weights: Scoring.Weights = Scoring.Weights(),
      generic: Generic.Config = Generic.Config(),
      checkpointDir: Option[String] = None,
      numberEntities: Boolean = true,
      /** Force the scoring join strategy: Some(true) broadcasts the
        * feature table (fastest at low parallelism; the shared hash
        * relation ANTI-scales past ~8 probe threads), Some(false)
        * forces the sort-merge path (the only option at 10^12 docs).
        * None = auto by corpus size.
        */
      broadcastFeatures: Option[Boolean] = None,
      /** When set, every stage output is committed as an atomic
        * snapshot (Iceberg semantics, graft.io.SnapshotStore) together
        * with per-partition lineage rows, and `run` RESUMES from the
        * last committed stage in that store. When unset, stages are
        * localCheckpoint'd (fast, in-memory).
        */
      snapshotRoot: Option[String] = None)

  final case class Result(
      docs: DataFrame,
      features: DataFrame,
      edges: DataFrame,
      assignments: DataFrame,
      entities: DataFrame,
      ambiguousDocs: DataFrame,
      ccStats: ConnectedComponents.Stats,
      metrics: Map[String, Long],
      resumedStages: Seq[String],
      /** wall millis per materialized stage, insertion-ordered —
        * feeds the scaling-profile decomposition in Bench */
      stageMillis: Seq[(String, Long)] = Seq.empty)

  def run(spark: SparkSession, docs: DataFrame, cfg: Config = Config()): Result =
    // Catalyst constraint propagation is O(2^n) over the scoring
    // case-when trees and dominates driver time when stage outputs are
    // checkpointed (LogicalRDD.rewriteStatsAndConstraints). The
    // pipeline's joins/filters are explicit, so inferred constraints
    // buy nothing here. Scoped: the caller's setting is restored on exit
    // (every stage inside is materialized eagerly, so nothing escapes).
    graft.util.Confs.withConfs(spark)(
      "spark.sql.constraintPropagation.enabled" -> "false") {
      runInner(spark, docs, cfg)
    }

  private def runInner(spark: SparkSession, docs: DataFrame, cfg: Config): Result = {
    val store = cfg.snapshotRoot.map(new SnapshotStore(_))
    val resumed = scala.collection.mutable.ArrayBuffer[String]()
    val stageRows = scala.collection.mutable.Map[String, Long]()
    val stageMs = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally stageMs += name -> ((System.nanoTime() - t0) / 1000000)
    }

    /** Materialize a stage: resume from the store when a committed
      * snapshot exists; otherwise compute and commit it (written once,
      * with per-partition lineage), or localCheckpoint when no store is
      * configured. Row counts — plus any caller-supplied extra
      * aggregates — ride the materialization job as observed metrics
      * (graft.util.Materialize).
      */
    def stage(name: String, extras: (String, org.apache.spark.sql.Column)*)
        (build: => DataFrame): DataFrame = timed(name) {
      def record(m: Materialize.Result): DataFrame = {
        stageRows(name) = m.rows
        m.extras.foreach { case (k, v) => stageRows(s"$name.$k") = v }
        m.df
      }
      store match {
        case Some(st) if st.exists(name) =>
          resumed += name
          record(Materialize(st.read(spark, name), name, None, extras: _*))
        case Some(st) =>
          val staged = st.stage(build, name, extras: _*)
          st.publish(staged)
          val df = record(staged.written)
          val lineage = df
            .groupBy(spark_partition_id().as("partition_id"))
            .agg(count(lit(1)).as("rows"))
            .withColumn("stage", lit(name))
          st.commit(lineage, s"_lineage_$name")
          df
        case None => record(Materialize(build, name, None, extras: _*))
      }
    }

    // The docs frame is materialized only when a snapshot store is
    // configured (resumability): Spark sources are re-scannable by
    // contract, and the two consumers (normalize, assembly's span
    // join) each prune to the columns they need — a third full
    // materialization pass buys nothing without resume. INPUT
    // CONTRACT: `docs` must be stable across scans (a table snapshot,
    // file source, or checkpointed frame — the engine's Iceberg-
    // snapshot data model). A frame that can change between scans
    // (non-deterministic exprs, a table under concurrent writes)
    // needs a snapshotRoot or a caller-side localCheckpoint, else
    // normalize and the span join could see different versions. The
    // one statically-detectable violation — a non-deterministic
    // expression (uuid(), rand(), …) anywhere in the plan — is
    // guarded below by forcing a materialization; scans of tables
    // under concurrent writes remain the caller's contract.
    def planNondeterministic(df: DataFrame): Boolean =
      df.queryExecution.analyzed.exists(
        _.expressions.exists(_.exists(!_.deterministic)))
    val docsSnap = store match {
      case Some(_) => stage("docs")(docs)
      case None if planNondeterministic(docs) => stage("docs")(docs)
      case None => docs
    }
    val featsRaw = stage("features_raw")(Normalize.features(docsSnap))
    val feats = stage("features")(Generic.withGenericFlags(featsRaw, cfg.generic))

    val pairs = stage("pairs") {
      // the job-level checkpointDir also hardens the candidate join's
      // tier frames (durable snapshots, not executor-local blocks)
      val bcfg = cfg.blocking.copy(checkpointDir =
        cfg.blocking.checkpointDir.orElse(cfg.checkpointDir))
      Blocking.candidatePairs(Blocking.blockingKeys(feats, bcfg), bcfg)
    }

    // Whole-stage codegen is disabled for the scoring action only: the
    // comparator tree fused into the nested broadcast joins re-emits
    // deferred column extractions at every use site (>64 KB method →
    // janino failure → interpreted eval). Per-operator codegen splits
    // methods fine and compiles. The stage is materialized eagerly
    // inside this conf window. The RESOLVED tally rides the same
    // observation (used directly when suppression fires nothing).
    val nDocs = stageRows("features")
    val rawEdges = graft.util.Confs.withConfs(spark)(
      "spark.sql.codegen.wholeStage" -> "false") {
      stage("edges_raw",
        "resolved" -> count(when(col("level") === "RESOLVED", 1))) {
        Scoring.scorePairs(pairs, feats, cfg.weights,
          broadcastFeatures = cfg.broadcastFeatures.getOrElse(nDocs < 3000000))
      }
    }
    // ambiguous-match suppression (Senzing semantics): conflicting
    // comparable claims never merge — see graft.score.Ambiguity.
    // LAZY: a resumed run with committed edges/ambiguous_docs snapshots
    // never evaluates the suppression fixpoint at all.
    lazy val amb = Ambiguity.suppress(rawEdges, feats)
    val (edges, ambDocs, nResolved) =
      if (store.isEmpty && amb.firedCount == 0) {
        // nothing fired: the suppressed frame IS the raw frame plus a
        // constant column — skip the second materialization entirely
        stageRows("edges") = stageRows("edges_raw")
        stageRows("ambiguous_docs") = 0L
        (amb.edges, amb.ambiguousDocs, stageRows("edges_raw.resolved"))
      } else {
        val e = stage("edges", // on resume: amb never forced
          "resolved" -> count(when(col("level") === "RESOLVED", 1)))(amb.edges)
        val a = stage("ambiguous_docs")(amb.ambiguousDocs)
        (e, a, stageRows("edges.resolved"))
      }

    val resolved = edges.filter(col("level") === "RESOLVED")
    var ccStats = ConnectedComponents.Stats(0, Seq.empty)
    val assignP = stage("assignments") {
      val (assignments, stats) = ConnectedComponents.assign(
        spark, feats.select("doc_id"), resolved, cfg.checkpointDir)
      ccStats = stats
      assignments
    }

    // the two intra-assembly localCheckpoints run eagerly here; the
    // final report query stays lazy (timed by the caller's action).
    // ambiguousDocs is passed ONLY when suppression actually fired
    // (r6): a Some(empty-frame) forced Assemble's entries union +
    // repartition — a full exchange of the exploded feature-entry
    // frame — to merge zero rows; with None the entries checkpoint
    // inherits the docs checkpoint's hash(entity_id) layout directly.
    // Identical output either way (union with an empty frame).
    val entities = timed("assemble_eager") {
      Assemble.entities(feats, docsSnap, assignP, edges,
        cfg.numberEntities,
        ambiguousDocs =
          if (stageRows("ambiguous_docs") == 0L) None else Some(ambDocs),
        checkpointDir = cfg.checkpointDir)
    }

    val metrics = Map(
      "docs" -> nDocs,
      "pairs_generated" -> stageRows("pairs"),
      "pairs_scored" -> stageRows("edges"),
      "edges_resolved" -> nResolved,
      "ambiguous_docs" -> stageRows("ambiguous_docs"),
      "cc_iterations" -> ccStats.iterations.toLong)

    Result(docsSnap, feats, edges, assignP, entities, ambDocs, ccStats, metrics,
      resumed.toSeq, stageMs.toSeq)
  }
}
