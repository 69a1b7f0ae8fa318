package graft.streaming

import graft.io.{SnapshotDiff, SnapshotStore}
import graft.jobs.ResolveJob
import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental resolve — the streaming replacement for the reference's
  * consumer loop (/root/reference/middleware/consumer.py:173-245):
  * at-least-once batches of new docs are merged idempotently (dedup on
  * doc_id — the reference delegates upsert semantics to Senzing), only
  * pairs that TOUCH a new doc are re-scored (the old↔old edge set is
  * carried from the previous snapshot), and connected components run
  * over ONLY the components whose resolved edge set changed — reaching
  * in one pass the fixpoint the reference's consumer+redoer pair
  * approaches asynchronously (redoer.py:105-216).
  *
  * The ER stages are graft.jobs.ResolveJob's one composition
  * (`ResolveJob.resolveDelta`), run with the store's tables as its
  * prior; a batch resolve is the same core over an empty prior. What
  * is incremental lives here: the content-hash touched/UPSERT dedup,
  * staging and publishing the store, and the affected-entity diff.
  *
  * Batch cost is proportional to the DELTA for every CPU-heavy stage:
  *
  *  - normalization runs on touched docs only; untouched per-doc
  *    features come from the persisted `features_raw` snapshot;
  *  - blocking keys are computed for touched docs only and merged into
  *    the persisted `blocks` table;
  *  - scoring sees only pairs incident to a touched doc;
  *  - connected components run on the affected subgraph — the
  *    components (by previous labels) containing any endpoint of an
  *    added/removed post-suppression RESOLVED edge, plus brand-new
  *    docs; every other doc carries its previous label over verbatim.
  *
  * What stays corpus-wide per batch (single columnar aggregate scans,
  * no per-row CPU): the generic-value hot counts (thresholds are
  * corpus-wide by definition), the sizes of the blocks a touched doc
  * is in, and the ambiguity suppression fixpoint — the latter runs
  * over the sparse strong-edge set (bounded by blocking caps, ≪
  * corpus) because suppression cascades cross component boundaries
  * via POSSIBLY_SAME bridges, so a component-local rerun could miss a
  * flip; diffing the
  * post-suppression RESOLVED set then catches every flip, wherever it
  * happened, and routes exactly those components back through CC.
  *
  * A batch compiles nothing. Its code is compiled once per JVM or not
  * at all: normalize and the pair comparator chain are
  * graft.util.Prepared projections, compiled on their first use and
  * pooled; every other operator expression of the batch runs
  * interpreted (whole-stage codegen off, codegen factory in
  * `NO_CODEGEN` mode), because over a delta of a few thousand rows a
  * Janino compile costs more than interpreting does, and the batch's
  * classes outnumbered Spark's 100-entry class cache.
  *
  * State between batches is a [[SnapshotStore]]: `docs`,
  * `features_raw`, `blocks`, `edges` (raw scores), `resolved`
  * (post-suppression RESOLVED pairs), `assignments`. A batch STAGES
  * each table once — the staged write is the stage boundary, and the
  * rest of the batch reads it back — then publishes them all at its end
  * in the order features_raw, blocks, edges, assignments, resolved,
  * docs. A batch that fails before its publishes leaves the store
  * unchanged; a crash between publishes leaves a prefix, which the
  * redelivered batch repairs. The affected-entity diff (consumer.py
  * WITH_INFO semantics) falls out of comparing consecutive assignment
  * snapshots.
  * The snapshot rewrites here are sequential columnar IO over plain
  * parquet; in production each maps to an Iceberg row-level MERGE
  * (SURVEY.md §4.2), making the state update itself O(delta) too.
  *
  * Carried-edge semantics: old↔old edges are NOT rescored when the
  * growing corpus flips a value's generic flag, so incremental results
  * can drift from a from-scratch batch. This is a known gap, not the
  * reference's behaviour: the reference runs a redoer that re-evaluates
  * an entity's neighbourhood after later records change the picture
  * (middleware/redoer.py; PAPER.md §1.1 "Redo record"). The drift is
  * pinned by IncrementalResolveSpec's "documented drift" case
  * (incremental keeps the pre-flip merge; from-scratch splits it).
  * Re-scoring the edges of the docs that carry a flipped value, as a
  * redo step, would close it.
  */
object IncrementalResolve {

  final case class BatchResult(
      assignments: DataFrame,
      affectedEntities: DataFrame,
      newDocs: Long,
      /** docs that went through normalization this batch (== delta). */
      featurizedDocs: Long,
      /** vertices handed to connected components this batch (affected
        * components + brand-new docs — NOT the corpus).
        */
      ccVertices: Long)

  /** Spark's internal switch between generated and interpreted
    * expression objects: projections, predicates, orderings and
    * aggregation buffers built outside whole-stage codegen.
    */
  private[graft] val CodegenFactoryMode = "spark.sql.codegen.factoryMode"

  /** Merge one batch of new docs and re-resolve incrementally. `batch`
    * must belong to `spark`: the batch's conf window is set on `spark`,
    * and a plan built from another session's frame does not see it (in
    * `foreachBatch` the frame belongs to the stream's cloned session).
    * A doc_id that occurs twice in `batch` with different spans keeps
    * the version with the greatest content hash
    * `xxhash64(to_json(spans))`, whatever the batch's row order.
    */
  def processBatch(
      spark: SparkSession,
      store: SnapshotStore,
      batch: DataFrame,
      cfg: ResolveJob.Config = ResolveJob.Config()): BatchResult = {
    require(batch.sparkSession eq spark,
      "processBatch: the batch belongs to another SparkSession; pass batch.sparkSession")
    // A 50-doc batch is ~50-60 small jobs over a few thousand rows, so
    // every operator expression runs interpreted: whole-stage codegen
    // is off (fused stages do not go through the factory) and the
    // factory builds Spark's interpreted projections, predicates,
    // orderings and aggregation buffers. Normalize and the comparator
    // chain stay compiled, once per JVM (graft.util.Prepared). Measured
    // on steady-state batches of 2000 synthetic entities, 4 cores: 108
    // classes compiled per batch before (Spark's class cache holds 100,
    // so each batch recompiled most of its own), 0 after; wall
    // 4.0-5.2 s before, 2.8-4.3 s after, identical assignments.
    graft.util.Confs.withConfs(spark)(
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.codegen.wholeStage" -> "false",
      CodegenFactoryMode -> "NO_CODEGEN") {
      processBatchInner(spark, store, batch, cfg)
    }
  }

  private def processBatchInner(
      spark: SparkSession,
      store: SnapshotStore,
      batch: DataFrame,
      cfg: ResolveJob.Config): BatchResult = {

    // At-least-once redelivery vs genuine UPSERT: the reference's
    // add_record replaces an existing record (consumer.py:188 delegates
    // upsert semantics to Senzing). A redelivered doc_id with IDENTICAL
    // span content is a no-op; one with CHANGED content replaces the old
    // doc — its stale rows are invalidated and it re-pairs like a new
    // doc.
    val incoming = dedupByContent(batch)
    val prevDocs = if (store.exists("docs")) Some(store.read(spark, "docs")) else None
    val (allDocs, touched) = prevDocs match {
      case Some(prev) =>
        val t = Materialize(incoming.join(
            prev.select(col("doc_id"), contentHash.as("_h_prev")), Seq("doc_id"), "left")
          .filter(col("_h_prev").isNull || col("_h") =!= col("_h_prev"))
          .select("doc_id", "spans"), "inc_touched", None)
        val kept = prev.join(t.df.select("doc_id"), Seq("doc_id"), "left_anti")
        (kept.unionByName(t.df), t)
      case None =>
        val t = Materialize(incoming.select("doc_id", "spans"), "inc_touched", None)
        (t.df, t)
    }
    // Every table is STAGED (written once, unpublished) and published
    // only at the end of the batch, in a fixed order (see there). The
    // content-hash dedup above keys off the PREVIOUS docs snapshot, so
    // docs is published LAST: a crashed batch is then re-runnable,
    // because redelivery sees the batch docs as touched and recomputes
    // every derived row idempotently (each carried table is
    // snapshot.anti-join(touched) + recomputed rows). Publishing docs
    // first would turn the redelivered batch into a content-hash no-op
    // and silently drop it from features/edges/assignments. The other
    // tables are published before docs, so a store with docs has them.
    val staged = scala.collection.mutable.Map("docs" -> store.stage(allDocs, "docs"))
    val prior = prevDocs.map(_ => ResolveJob.Prior(store.read(spark, "features_raw"),
      store.read(spark, "blocks"), store.read(spark, "edges"), store.read(spark, "resolved"),
      store.read(spark, "assignments")))

    // the core's stages that are store tables are staged; the rest are
    // checkpointed. The raw-score stage is the `edges` table.
    val tables = Map("features_raw" -> "features_raw", "blocks" -> "blocks",
      "edges_raw" -> "edges", "resolved" -> "resolved", "assignments" -> "assignments")
    val d = ResolveJob.resolveDelta(spark, touched.df, prior, cfg, new ResolveJob.Stages {
      def apply(name: String, extras: (String, Column)*)(build: => DataFrame) =
        tables.get(name) match {
          case Some(table) =>
            val s = store.stage(build, table, extras: _*)
            staged(table) = s
            s.written
          case None => Materialize(build, s"inc_$name", None, extras: _*)
        }
      def state(name: String)(df: DataFrame): DataFrame = apply(name)(df).df
    })

    // read() binds the snapshot PATH eagerly, so this lazy diff stays
    // pinned to the pre-batch assignments even after the publish below
    val affected = prior.fold(d.assignments.select("entity_id").distinct())(p =>
      SnapshotDiff.affectedEntities(p.assignments, d.assignments))
    // Publish ORDER is load-bearing: features_raw, blocks, edges, then
    // assignments BEFORE resolved, and docs last. A crash mid-publish
    // leaves a prefix of this sequence published. A crash between
    // assignments and resolved leaves resolved=old, so the redelivered
    // batch's resolved-diff is non-empty and the affected components
    // (old AND new endpoints) are recomputed. The reverse order
    // (resolved first) had a window where resolved=new/assignments=old
    // made the diff empty, affLabels empty, and new docs that should
    // merge into existing entities silently kept separate labels.
    // Tradeoff: a crash AFTER the assignments publish makes the
    // redelivered batch's affectedEntities diff empty (the notification
    // is lost, the assignments themselves are correct) — wrong-labels
    // was the worse failure. Pinned by IncrementalResolveSpec's
    // per-window crash test.
    Seq("features_raw", "blocks", "edges", "assignments", "resolved", "docs")
      .foreach(t => store.publish(staged(t)))

    BatchResult(d.assignments, affected, touched.rows, touched.rows, d.ccVertices)
  }

  private def contentHash: Column = xxhash64(to_json(col("spans")))

  /** One row per doc_id of `batch` with its content hash `_h`: the row
    * with the greatest `_h` (the greater spans on a tie), so two
    * deliveries of one batch publish the same docs.
    */
  private def dedupByContent(batch: DataFrame): DataFrame =
    batch.groupBy("doc_id")
      .agg(max(struct(contentHash.as("_h"), col("spans"))).as("_m"))
      .select(col("doc_id"), col("_m.spans").as("spans"), col("_m._h").as("_h"))

  /** Structured Streaming driver: readStream of docs → foreachBatch
    * incremental merge. The batch is the unit of atomic progress; a
    * failed batch commits no snapshot (at-least-once + idempotent
    * doc_id dedup = effectively-once).
    */
  def run(
      spark: SparkSession,
      stream: DataFrame,
      storeRoot: String,
      cfg: ResolveJob.Config = ResolveJob.Config(),
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val store = new SnapshotStore(storeRoot)
    val writer = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch.sparkSession, store, batch, cfg): Unit
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}
