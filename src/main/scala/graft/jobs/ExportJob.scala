package graft.jobs

import graft.assemble.Assemble
import graft.io.{SnapshotDiff, SnapshotStore}
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-report export — the Spark-native exporter
  * (/root/reference/middleware/exporter.py):
  *
  *  - FULL: every entity of the latest assignment snapshot →
  *    JSONL files (file-per-partition replaces the reference's 10 MiB
  *    S3 multipart parts, exporter.py:51,200-217; `maxRecordsPerFile`
  *    bounds part size).
  *  - DELTA: only entities affected between two assignment snapshots
  *    (the export_tracker TODO→DONE workflow, db.py:41-102, becomes a
  *    snapshot diff — a failed export publishes nothing, so the
  *    rewind-on-error path, exporter.py:252-262, is free).
  *
  * Entities deleted between snapshots are naturally absent from the
  * semi-join (the SzNotFoundError skip, exporter.py:188-189).
  */
object ExportJob {

  sealed trait Mode
  case object Full extends Mode
  final case class Delta(fromSnapshot: Long, toSnapshot: Long) extends Mode

  /** Build the export dataset (one JSON line per entity).
    *
    * DELTA assembles ONLY the affected entities: the assignment frame
    * is semi-joined to the affected-id diff BEFORE Assemble.entities,
    * so the grouping/aggregation work is proportional to the delta —
    * not the corpus (the reference likewise fetches affected ids one
    * by one, exporter.py:173-189; round 1 assembled everything and
    * filtered after). Delta entity ids are the STABLE entity keys
    * (min member doc id) — dense renumbering over a partial entity
    * set would disagree with the full export's numbering.
    */
  def export(
      spark: SparkSession,
      store: SnapshotStore,
      resolve: ResolveJob.Result,
      mode: Mode): DataFrame = mode match {
    case Full => Assemble.toExportJson(resolve.entities)
    case Delta(from, to) =>
      val prev = store.read(spark, "assignments", Some(from))
      val curr = store.read(spark, "assignments", Some(to))
      val affected = SnapshotDiff.affectedEntities(prev, curr)
        .withColumnRenamed("entity_id", "affected_id")
      val affAssignments = resolve.assignments.join(affected,
        resolve.assignments("entity_id") === col("affected_id"), "left_semi")
      Assemble.toExportJson(Assemble.entities(
        resolve.features, resolve.docs, affAssignments, resolve.edges,
        numberEntities = false, ambiguousDocs = resolve.ambiguousDocs,
        relatedAssignments = Some(resolve.assignments)))
  }

  /** Write JSONL to `<outDir>/<exportId>-exporter-output-<mode>/` with
    * bounded part sizes (the reference's part-file discipline).
    */
  def write(df: DataFrame, outDir: String, exportId: String, mode: Mode,
      maxRecordsPerFile: Int = 100000): String = {
    val modeName = mode match { case Full => "full"; case _: Delta => "delta" }
    val path = s"$outDir/$exportId-exporter-output-$modeName"
    Materialize.tagged("export")(df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .text(path))
    path
  }
}
