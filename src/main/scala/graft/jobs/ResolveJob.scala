package graft.jobs

import graft.assemble.Assemble
import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.io.SnapshotStore
import graft.normalize.Normalize
import graft.score.{Ambiguity, Generic, Scoring}
import graft.util.{Confs, Materialize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch resolve: the Spark-native equivalent of the
  * reference's consumer + redoer pair (/root/reference/middleware/
  * consumer.py:173-245, redoer.py:105-216). One declarative pass:
  *
  *   docs → normalize/extract → blocking → candidate join → score →
  *   edges → connected components (iterate, checkpoint) → assignments
  *   → entity assembly
  *
  * Everything up to the assignments is [[resolveDelta]], the one ER
  * composition, which graft.streaming.IncrementalResolve runs too: a
  * batch resolve is a delta over an empty prior with every doc touched.
  *
  * Stage boundaries are materialized eagerly — this truncates the
  * LOGICAL plan, so no stage re-plans the joins and aggregations of the
  * stages before it, and is the resumability story: with `snapshotRoot`
  * set, each boundary is an atomic snapshot commit with per-partition
  * lineage rows, and a restarted run resumes from the last committed
  * stage. The two large expression trees, normalize (~10^4 nodes) and
  * the pair comparators, are prepared projections (graft.util.Prepared):
  * planned once per JVM and a leaf in every plan that reads them.
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
        * last committed stage in that store (of the same docs input,
        * else it throws). When unset, stages are
        * localCheckpoint'd (fast, in-memory).
        */
      snapshotRoot: Option[String] = None)

  final case class Result(
      docs: DataFrame,
      features: DataFrame,
      edges: DataFrame,
      assignments: DataFrame,
      entities: DataFrame,
      /** (doc_id, conflict_desc); None when no doc is ambiguous */
      ambiguousDocs: Option[DataFrame],
      ccStats: ConnectedComponents.Stats,
      metrics: Map[String, Long],
      resumedStages: Seq[String],
      /** wall millis per materialized stage, insertion-ordered —
        * feeds the scaling-profile decomposition in Bench and ScaleEval */
      stageMillis: Seq[(String, Long)] = Seq.empty)

  def run(spark: SparkSession, docs: DataFrame, cfg: Config = Config()): Result =
    // Catalyst constraint propagation is O(2^n) over the scoring
    // case-when trees and dominates driver time when stage outputs are
    // checkpointed (LogicalRDD.rewriteStatsAndConstraints). The
    // pipeline's joins/filters are explicit, so inferred constraints
    // buy nothing here. Scoped: the caller's setting is restored on exit
    // (every stage inside is materialized eagerly, so nothing escapes).
    Confs.withConfs(spark)(
      "spark.sql.constraintPropagation.enabled" -> "false") {
      runInner(spark, docs, cfg)
    }

  private def runInner(spark: SparkSession, docs: DataFrame, cfg: Config): Result = {
    val store = cfg.snapshotRoot.map(new SnapshotStore(_))
    val resumed = scala.collection.mutable.ArrayBuffer[String]()
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
    def stage(name: String, extras: (String, Column)*)
        (build: => DataFrame): Materialize.Result = timed(name) {
      store match {
        case Some(st) if st.exists(name) =>
          resumed += name
          Materialize(st.read(spark, name), name, None, extras: _*)
        case Some(st) =>
          val staged = st.stage(build, name, extras: _*)
          st.publish(staged)
          val lineage = staged.df
            .groupBy(spark_partition_id().as("partition_id"))
            .agg(count(lit(1)).as("rows"))
            .withColumn("stage", lit(name))
          st.commit(lineage, s"_lineage_$name")
          staged.written
        case None => Materialize(build, name, None, extras: _*)
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
    // a store resumes only the docs input it was written from (an
    // order-free fingerprint); a fresh root has no docs and pays nothing
    for (st <- store if st.exists("docs")) {
      def fingerprint(df: DataFrame) = Materialize.tagged("docs_fingerprint")(df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("doc_id"), to_json(col("spans")))), lit(0L))).head())
      if (fingerprint(docs) != fingerprint(st.read(spark, "docs")))
        throw new IllegalStateException(s"snapshot root ${cfg.snapshotRoot.get} holds the " +
          "stages of a different docs input; resolve it under a fresh root")
    }
    val docsSnap =
      if (store.isDefined || planNondeterministic(docs)) stage("docs")(docs).df
      else docs

    // a batch resolve is the core over an empty prior, every doc touched
    val d = resolveDelta(spark, docsSnap, None, cfg, new Stages {
      def apply(name: String, extras: (String, Column)*)(build: => DataFrame) =
        stage(name, extras: _*)(build)
      def state(name: String)(df: DataFrame): DataFrame = df
    })

    // the intra-assembly materializations run eagerly here; the final
    // report query stays lazy (timed by the caller's action).
    // ambiguousDocs is Some ONLY when suppression actually fired: a
    // Some(empty-frame) would merge zero rows at the cost of a join.
    val ambiguousDocs = if (d.ambiguousDocs.rows == 0L) None else Some(d.ambiguousDocs.df)
    val entities = timed("assemble_eager") {
      Assemble.entities(d.features.df, docsSnap, d.assignments, d.edges.df,
        cfg.numberEntities, ambiguousDocs = ambiguousDocs, checkpointDir = cfg.checkpointDir)
    }

    val metrics = Map(
      "docs" -> d.features.rows,
      "pairs_generated" -> d.pairs.rows,
      "pairs_scored" -> d.edges.rows,
      "edges_resolved" -> d.edges.extras("resolved"),
      "ambiguous_docs" -> d.ambiguousDocs.rows,
      "cc_iterations" -> d.ccStats.iterations.toLong)

    Result(docsSnap, d.features.df, d.edges.df, d.assignments, entities, ambiguousDocs,
      d.ccStats, metrics, resumed.toSeq, stageMs.toSeq)
  }

  /** The state an incremental batch resolves against: the previous
    * batch's tables (graft.streaming.IncrementalResolve's snapshot store).
    * `edges` holds raw scores, `resolved` the post-suppression RESOLVED
    * pairs.
    */
  private[graft] final case class Prior(featuresRaw: DataFrame, blocks: DataFrame,
      edges: DataFrame, resolved: DataFrame, assignments: DataFrame)

  /** Where [[resolveDelta]] puts its stage outputs. */
  private[graft] trait Stages {
    /** Materializes the stage `name` eagerly. */
    def apply(name: String, extras: (String, Column)*)(build: => DataFrame): Materialize.Result
    /** Keeps the table `name` that only a later incremental batch reads
      * (`blocks`, `resolved`), or returns `df` as it is.
      */
    def state(name: String)(df: DataFrame): DataFrame
  }

  /** What [[resolveDelta]] produced. `edges` are post-suppression;
    * `ccVertices` counts the docs handed to connected components.
    */
  private[graft] final case class Delta(features: Materialize.Result,
      pairs: Materialize.Result, edges: Materialize.Result,
      ambiguousDocs: Materialize.Result, assignments: DataFrame,
      ccStats: ConnectedComponents.Stats, ccVertices: Long)

  /** The one ER composition: normalize → generic flags → blocking keys →
    * candidate pairs → scoring → ambiguity suppression → connected
    * components, for the `touched` docs (doc_id, spans; each doc_id
    * once).
    *
    * `prior = None` is a resolve from scratch: every doc is touched and
    * CC runs over all docs. With a prior, untouched docs keep their
    * `features_raw`, `blocks` and `edges` rows (prior anti-join touched
    * ∪ new), only pairs with a touched endpoint are scored, and CC runs
    * over the affected subgraph: the components (by prior labels) that
    * hold a touched doc or an endpoint of an added or removed RESOLVED
    * edge, plus brand-new docs. Labels are the min member doc_id, so an
    * untouched component's carried label is what a full rerun gives;
    * a merge between components needs a changed edge between them,
    * which pulls both in, so carried labels never conflict.
    */
  private[graft] def resolveDelta(spark: SparkSession, touched: DataFrame,
      prior: Option[Prior], cfg: Config, stage: Stages): Delta = {
    val touchedIds = touched.select("doc_id")
    def carry(prev: DataFrame, fresh: DataFrame): DataFrame =
      prev.join(touchedIds, Seq("doc_id"), "left_anti").unionByName(fresh)

    // normalization, the per-row CPU-heavy stage, runs on touched docs
    // only. It is a prepared projection (graft.util.Prepared): a leaf in
    // the plan of whatever reads it, so the union with the prior's rows
    // is the same stage. Lazy: built under the stage's job tag.
    lazy val featsNew = Normalize.features(touched)
    val featsRaw = stage("features_raw")(
      prior.fold(featsNew)(p => carry(p.featuresRaw, featsNew))).df
    val feats = stage("features")(Generic.withGenericFlags(featsRaw, cfg.generic))

    // blocking keys read no flag column, so either feature frame gives
    // the same keys: a resolve from scratch keys the flagged frame, a
    // delta only its touched docs (re-projected: a few rows)
    val keysNew = Blocking.blockingKeys(prior.fold(feats.df)(_ => featsNew), cfg.blocking)
    val blocks = stage.state("blocks")(prior.fold(keysNew)(p => carry(p.blocks, keysNew)))
    val pairs = stage("pairs") {
      // the job-level checkpointDir also hardens the candidate join's
      // tier frames (durable snapshots, not executor-local blocks)
      val bcfg = cfg.blocking.copy(checkpointDir =
        cfg.blocking.checkpointDir.orElse(cfg.checkpointDir))
      Blocking.candidatePairs(blocks, bcfg, prior.map(_ => touchedIds))
    }

    // The RESOLVED tally rides the stage's observation (used directly
    // when suppression fires nothing).
    val resolvedTally = "resolved" -> count(when(col("level") === "RESOLVED", 1))
    val rawEdges = stage("edges_raw", resolvedTally) {
      val scored = Scoring.scorePairs(pairs.df, feats.df, cfg.weights,
        broadcastFeatures = cfg.broadcastFeatures.getOrElse(feats.rows < 3000000))
      // every scored edge touches a touched doc and every carried one
      // does not, so the union needs no dedup
      prior.fold(scored)(p => p.edges
        .join(touchedIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(touchedIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
        .unionByName(scored))
    }

    // ambiguous-match suppression (Senzing semantics): conflicting
    // comparable claims never merge — see graft.score.Ambiguity. It
    // re-derives from the whole edge set, because suppression cascades
    // cross components through POSSIBLY_SAME bridges.
    // Eager: a resumed run re-runs the fixpoint's jobs (one when nothing
    // fires) to learn whether it fired; committed edges/ambiguous_docs
    // snapshots then stand in for its output.
    val amb = Ambiguity.suppress(rawEdges.df, feats.df)
    val (edges, ambDocs) =
      if (amb.firedCount == 0)
        // nothing fired: the suppressed frame IS the raw frame plus a
        // constant column, and no doc is ambiguous — skip the second
        // materialization entirely
        (rawEdges.copy(df = amb.edges), Materialize.Result(amb.ambiguousDocs, 0L, Map.empty))
      else (stage("edges", resolvedTally)(amb.edges),
        stage("ambiguous_docs")(amb.ambiguousDocs))
    val resolved = stage.state("resolved")(
      edges.df.filter(col("level") === "RESOLVED").select("doc_a", "doc_b"))

    // connected components over every doc or, with a prior, over the
    // affected subgraph while every other doc keeps its prior label
    val (ccDocs, ccEdges, carried) = prior.fold((feats, resolved, Option.empty[DataFrame])) { p =>
      // the RESOLVED edges in exactly one of the prior and current sets
      // (each set holds a pair once)
      val changed = resolved.unionByName(p.resolved)
        .groupBy("doc_a", "doc_b").count().filter(col("count") === 1)
      val touchedVerts = changed.select(col("doc_a").as("doc_id"))
        .unionByName(changed.select(col("doc_b").as("doc_id")))
        .unionByName(touchedIds)
      // labels feed semi/anti joins only, so repeats are harmless
      val affLabels = stage("aff_labels")(p.assignments
        .join(touchedVerts, Seq("doc_id"), "left_semi").select("entity_id")).df
      val freshDocs = touchedIds
        .join(p.assignments.select("doc_id"), Seq("doc_id"), "left_anti")
      // a disjoint union of distinct doc_ids: prior assignments hold one
      // row per doc, and fresh docs have none
      val aff = stage("aff_docs")(
        p.assignments.join(affLabels, Seq("entity_id"), "left_semi")
          .select("doc_id")
          .unionByName(freshDocs))
      // an unchanged edge has both endpoints in the same prior
      // component; a changed edge's endpoints are both in touchedVerts
      // — so a doc_a-side semi-join keeps every affected-subgraph edge
      (aff, resolved.join(aff.df.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi"),
        Some(p.assignments.join(affLabels, Seq("entity_id"), "left_anti")))
    }
    var ccStats = ConnectedComponents.Stats(0, Seq.empty)
    val assignments = stage("assignments") {
      // ccDocs is distinct and holds every ccEdges endpoint (assign's
      // precondition): all features in a batch, the affected docs in a delta
      val (a, stats) = ConnectedComponents.assign(spark, ccDocs.df, ccEdges, cfg.checkpointDir)
      ccStats = stats
      carried.fold(a)(_.select("doc_id", "entity_id").unionByName(a.select("doc_id", "entity_id")))
    }.df
    Delta(feats, pairs, edges, ambDocs, assignments, ccStats, ccDocs.rows)
  }
}
