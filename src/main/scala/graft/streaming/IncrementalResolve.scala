package graft.streaming

import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.io.{SnapshotDiff, SnapshotStore}
import graft.jobs.ResolveJob
import graft.normalize.Normalize
import graft.score.Generic
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * corpus-wide by definition), block-size caps, and the ambiguity
  * suppression fixpoint — the latter runs over the sparse strong-edge
  * set (bounded by blocking caps, ≪ corpus) because suppression
  * cascades cross component boundaries via POSSIBLY_SAME bridges, so a
  * component-local rerun could miss a flip; diffing the
  * post-suppression RESOLVED set then catches every flip, wherever it
  * happened, and routes exactly those components back through CC.
  *
  * State between batches is a [[SnapshotStore]] (atomic snapshot
  * commits): `docs`, `features_raw`, `blocks`, `edges` (raw scores),
  * `resolved` (post-suppression RESOLVED pairs), `assignments` —
  * restart-safe, and the affected-entity diff (consumer.py WITH_INFO
  * semantics) falls out of comparing consecutive assignment snapshots.
  * The snapshot rewrites here are sequential columnar IO over plain
  * parquet; in production each maps to an Iceberg row-level MERGE
  * (SURVEY.md §4.2), making the state update itself O(delta) too.
  *
  * Carried-edge semantics: old↔old edges are NOT rescored when the
  * growing corpus flips a value's generic flag — incremental results
  * can drift from a from-scratch batch until the next full resolve.
  * The reference has the same property: Senzing scores a pair once, at
  * ingest time. The divergence is a TESTED contract:
  * IncrementalResolveSpec's "documented drift" case pins both sides
  * (incremental keeps the pre-flip merge; from-scratch splits it).
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

  /** Merge one batch of new docs and re-resolve incrementally. */
  def processBatch(
      spark: SparkSession,
      store: SnapshotStore,
      batch: DataFrame,
      cfg: ResolveJob.Config = ResolveJob.Config()): BatchResult =
    graft.util.Confs.withConfs(spark)(
      "spark.sql.constraintPropagation.enabled" -> "false") {
      processBatchInner(spark, store, batch, cfg)
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
    // doc — its stale edges are invalidated below and it re-pairs like a
    // new doc.
    val newDocs0 = batch.select("doc_id", "spans").dropDuplicates("doc_id")
    def contentHash(df: DataFrame): DataFrame =
      df.withColumn("_h", xxhash64(to_json(col("spans"))))
    val (allDocs, touched, nTouched) = if (store.exists("docs")) {
      val prev = store.read(spark, "docs")
      val incoming = contentHash(newDocs0).join(
        contentHash(prev).select(col("doc_id"), col("_h").as("_h_prev")),
        Seq("doc_id"), "left")
      val t = Materialize(incoming
        .filter(col("_h_prev").isNull || col("_h") =!= col("_h_prev"))
        .select("doc_id", "spans"), "inc_touched", None)
      val kept = prev.join(t.df.select("doc_id"), Seq("doc_id"), "left_anti")
      (kept.unionByName(t.df), t.df, t.rows)
    } else {
      val t = Materialize(newDocs0, "inc_touched", None)
      (t.df, t.df, t.rows)
    }
    // NOTE: the docs snapshot is committed LAST (end of this method).
    // The content-hash dedup above keys off the PREVIOUS docs snapshot,
    // so committing docs only after every derived table makes a crashed
    // batch re-runnable: redelivery sees the batch docs as touched and
    // recomputes every derived row idempotently (each merge below is
    // snapshot.anti-join(touched) + recomputed rows). Committing docs
    // first would turn the redelivered batch into a content-hash no-op
    // and silently drop it from features/edges/assignments.
    val docsSnap = Materialize(allDocs, "inc_docs", None).df
    val touchedIds = Materialize(touched.select("doc_id"), "inc_touched_ids", None).df

    // normalize ONLY the touched docs (the per-row CPU-heavy stage);
    // untouched docs' features come from the persisted snapshot
    val featsNew = Materialize(Normalize.features(touched), "inc_features_new", None).df
    val featsRaw = if (store.exists("features_raw")) {
      store.read(spark, "features_raw")
        .join(touchedIds, Seq("doc_id"), "left_anti")
        .unionByName(featsNew)
    } else featsNew
    val featsRawSnap = Materialize(featsRaw, "inc_features_raw", None).df
    store.commit(featsRawSnap, "features_raw")
    // generic flags: corpus-wide hot-value thresholds — one aggregate
    // scan of the feature snapshot + per-family joins (no per-row CPU)
    val feats = Materialize(Generic.withGenericFlags(featsRawSnap, cfg.generic),
      "inc_features", None).df

    // blocking keys ONLY for touched docs, merged into the persisted
    // key table; mega-key capping needs corpus-wide block sizes — one
    // map-side-combined aggregate over the key table
    val keysNew = Blocking.blockingKeys(featsNew, cfg.blocking)
    val blocksMerged = if (store.exists("blocks")) {
      store.read(spark, "blocks")
        .join(touchedIds, Seq("doc_id"), "left_anti")
        .unionByName(keysNew)
    } else keysNew
    val blocksSnap = Materialize(blocksMerged, "inc_blocks", None).df
    store.commit(blocksSnap, "blocks")

    // candidate pairs restricted to those touching a new/changed doc;
    // mega-hot keys are down-sampled (never dropped) on the ALL side
    val blocksAll = Blocking.cappedBlocks(blocksSnap, cfg.blocking)
    val blocksNew = blocksAll.join(touchedIds, "doc_id")
    val l = blocksAll.select(col("bkey"), col("doc_id").as("doc_a"))
    val r = blocksNew.select(col("bkey"), col("doc_id").as("doc_b"))
    val touchingPairs = Materialize(l.join(r, Seq("bkey"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct(), "inc_pairs", None).df

    val newEdges = graft.util.Confs.withConfs(spark)(
      "spark.sql.codegen.wholeStage" -> "false") {
      Materialize(graft.score.Scoring.scorePairs(touchingPairs, feats, cfg.weights),
        "inc_edges_new", None).df
    }

    val edges = if (store.exists("edges")) {
      // old↔old edges not touching a changed doc stay valid; every edge
      // incident to a changed/new doc is invalidated and re-scored
      // prev excludes every edge incident to a touched doc, and every
      // newEdge touches a touched doc — the sets are disjoint by
      // construction, so a plain union suffices (an anti-join here
      // would shuffle the whole carried edge set to remove zero rows)
      val prev = store.read(spark, "edges")
        .join(touchedIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(touchedIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
      prev.unionByName(newEdges)
    } else newEdges
    val edgesSnap = Materialize(edges, "inc_edges", None).df
    store.commit(edgesSnap, "edges") // RAW scores; ambiguity re-derives
    // per batch from the full merged edge set (a new doc can create or
    // dissolve a conflict, and cascades cross POSSIBLY_SAME bridges),
    // matching the batch job's semantics; cost is bounded by the sparse
    // strong-edge set, not the corpus
    val suppressed = graft.score.Ambiguity.suppress(edgesSnap, feats)
    val currResolved = Materialize(suppressed.edges
      .filter(col("level") === "RESOLVED")
      .select("doc_a", "doc_b"), "inc_resolved", None).df

    // connected components over ONLY the affected subgraph: components
    // (by previous labels) containing any endpoint of an added/removed
    // RESOLVED edge, plus brand-new docs. Labels are the min member
    // doc_id (deterministic), so an untouched component's carried label
    // is exactly what a full rerun would produce; a merge between
    // components requires a changed edge between them, which pulls both
    // into the affected set — so carried labels never conflict.
    val prevState =
      if (store.exists("resolved") && store.exists("assignments"))
        Some((store.read(spark, "resolved"), store.read(spark, "assignments")))
      else None
    val (assignments, nCcVerts) = prevState match {
      case Some((prevResolved, prevAssign)) =>
        val changed = currResolved
          .join(prevResolved, Seq("doc_a", "doc_b"), "left_anti")
          .unionByName(
            prevResolved.join(currResolved, Seq("doc_a", "doc_b"), "left_anti"))
        val touchedVerts = changed.select(col("doc_a").as("doc_id"))
          .unionByName(changed.select(col("doc_b").as("doc_id")))
          .unionByName(touchedIds)
          .distinct()
        val affLabels = Materialize(prevAssign.join(touchedVerts, Seq("doc_id"))
          .select("entity_id").distinct(), "inc_aff_labels", None).df
        val freshDocs = touchedIds
          .join(prevAssign.select("doc_id"), Seq("doc_id"), "left_anti")
        val aff = Materialize(
          prevAssign.join(affLabels, Seq("entity_id"), "left_semi")
            .select("doc_id")
            .unionByName(freshDocs)
            .distinct(), "inc_aff_docs", None)
        val affDocs = aff.df
        // an unchanged edge has both endpoints in the same previous
        // component; a changed edge's endpoints are both in touchedVerts
        // — so a doc_a-side semi-join keeps every affected-subgraph edge
        val affEdges = currResolved.join(
          affDocs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        val (sub, _) = ConnectedComponents.assign(
          spark, affDocs, affEdges, cfg.checkpointDir)
        val carried = prevAssign
          .join(affLabels, Seq("entity_id"), "left_anti")
          .select("doc_id", "entity_id")
        (carried.unionByName(sub.select("doc_id", "entity_id")), aff.rows)
      case None =>
        val allIds = Materialize(docsSnap.select("doc_id"), "inc_all_ids", None)
        val (assign, _) = ConnectedComponents.assign(
          spark, allIds.df, currResolved, cfg.checkpointDir)
        (assign, allIds.rows)
    }
    val assignSnap = Materialize(assignments, "inc_assignments", None).df

    val affected = if (store.exists("assignments")) {
      // read() binds the snapshot PATH eagerly, so this lazy diff stays
      // pinned to the pre-batch assignments even after the commit below
      val prev = store.read(spark, "assignments")
      SnapshotDiff.affectedEntities(prev, assignSnap)
    } else assignSnap.select("entity_id").distinct()
    // Commit ORDER is load-bearing: assignments BEFORE resolved. A crash
    // between them leaves resolved=old, so the redelivered batch's
    // resolved-diff is non-empty and the affected components (old AND
    // new endpoints) are recomputed. The reverse order (resolved first)
    // had a window where resolved=new/assignments=old made the diff
    // empty, affLabels empty, and new docs that should merge into
    // existing entities silently kept separate labels. Tradeoff: a
    // crash AFTER the assignments commit makes the redelivered batch's
    // affectedEntities diff empty (the notification is lost, the
    // assignments themselves are correct) — wrong-labels was the worse
    // failure. Pinned by IncrementalResolveSpec's per-window crash test.
    store.commit(assignSnap, "assignments")
    store.commit(currResolved, "resolved")
    // docs commit LAST — the batch-atomicity marker (see note above)
    store.commit(docsSnap, "docs")

    BatchResult(assignSnap, affected, nTouched, nTouched, nCcVerts)
  }

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
        processBatch(spark, store, batch, cfg): Unit
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}
