package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import graft.util.Materialize
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot table semantics on plain Parquet.
  *
  * The sandbox image ships no Iceberg runtime (SURVEY.md §4.2), so this
  * thin store provides the properties the pipeline needs from Iceberg —
  * atomic snapshot commit, snapshot listing, time-travel read, and
  * snapshot diff — over a directory layout:
  *
  * {{{
  * root/<table>/data/snap=<id>/ (parquet, written by stage)
  * root/<table>/_manifests/<id>.json       (atomic rename = publish)
  * }}}
  *
  * A commit has two phases. [[stage]] writes `snap=<latest+1>` once and
  * returns the frame read back, so a caller can keep computing on it.
  * [[publish]] renames the manifest into place, which is the moment
  * readers see the snapshot. A staged but unpublished snapshot is
  * invisible, so a job can stage every table first and publish them in
  * order at its end: a failure before the publishes leaves no trace but
  * orphaned data that the next stage of that id overwrites.
  *
  * A failed job publishes no manifest, so readers never see partial
  * data — this replaces the reference's export-tracker status machine
  * (TODO→IN_PROGRESS→DONE with rewind-on-error,
  * /root/reference/middleware/db.py:41-102): "rewind" is simply the
  * absence of a commit. In production the `TableIO` calls map 1:1 to
  * `spark.read/writeTo(...).format("iceberg")`.
  *
  * The manifest is a JSON object `{snapshot, table, path, schema}`; the
  * schema is Spark's JSON form of the staged frame's schema. [[read]]
  * passes it to `spark.read.schema`, so a read plans without a
  * footer-inference job. Manifests without a schema (written before the
  * field existed) fall back to inference.
  */
final class SnapshotStore(root: String) {
  import SnapshotStore._

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def manifestDir(table: String): Path = tableDir(table).resolve("_manifests")
  private def dataPath(table: String, id: Long): Path =
    tableDir(table).resolve("data").resolve(s"snap=$id")

  def snapshots(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    // Files.list holds an open DirectoryStream — close it, or a
    // long-running streaming driver leaks one fd per store call
    val s = Files.list(dir)
    try {
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").toLong)
        .toSeq.sorted
    } finally s.close()
  }

  def latestSnapshot(table: String): Option[Long] = snapshots(table).lastOption

  /** Write `df` as the table's next snapshot without publishing it. The
    * write is one job through [[graft.util.Materialize.into]] (tagged
    * `graft:<table>`, rows and `extras` observed on it). Writing
    * overwrites `snap=<id>`, which only an unpublished earlier attempt
    * can have left behind. Stage at most one snapshot per table before
    * publishing it: a second stage reuses the id.
    */
  def stage(df: DataFrame, table: String, extras: (String, Column)*): Staged = {
    val id = latestSnapshot(table).getOrElse(0L) + 1L
    val path = dataPath(table, id).toString
    val written = Materialize.into(df, table, extras: _*) { observed =>
      observed.write.mode("overwrite").parquet(path)
      df.sparkSession.read.schema(df.schema).parquet(path)
    }
    Staged(table, id, written)
  }

  /** Make a staged snapshot the table's latest (atomic manifest rename);
    * returns its id.
    */
  def publish(staged: Staged): Long = {
    val Staged(table, id, written) = staged
    if (latestSnapshot(table).exists(_ >= id))
      throw new IllegalStateException(
        s"snapshot $id of $table was staged against an older latest snapshot")
    val m = mapper.createObjectNode()
    m.put("snapshot", id)
    m.put("table", table)
    m.put("path", dataPath(table, id).toString)
    m.set("schema", mapper.readTree(written.df.schema.json))
    Files.createDirectories(manifestDir(table))
    val tmp = manifestDir(table).resolve(s".$id.json.tmp")
    val fin = manifestDir(table).resolve(s"$id.json")
    Files.writeString(tmp, mapper.writeValueAsString(m))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    id
  }

  /** Atomically commit `df` as the next snapshot; returns its id. */
  def commit(df: DataFrame, table: String): Long = publish(stage(df, table))

  /** Read a snapshot (latest by default). */
  def read(spark: SparkSession, table: String, snapshot: Option[Long] = None): DataFrame = {
    val id = snapshot.orElse(latestSnapshot(table))
      .getOrElse(throw new IllegalStateException(s"no committed snapshot for $table"))
    val schema = Option(mapper.readTree(manifestDir(table).resolve(s"$id.json").toFile)
      .get("schema")).map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
    schema.fold(spark.read)(spark.read.schema(_)).parquet(dataPath(table, id).toString)
  }

  def exists(table: String): Boolean = latestSnapshot(table).isDefined
}

object SnapshotStore {

  /** A snapshot written by [[SnapshotStore.stage]] and not yet
    * published: `written.df` reads it back (no job; its schema is the
    * one the manifest records), `written.rows`/`extras` were observed
    * on its write.
    */
  final case class Staged(table: String, id: Long, written: Materialize.Result) {
    def df: DataFrame = written.df
  }

  private val mapper = new ObjectMapper()
}

object SnapshotDiff {
  import org.apache.spark.sql.functions._

  /** Affected entities between two assignment snapshots (doc_id,
    * entity_id): the distinct entity ids — old and new — touched by
    * any doc whose assignment changed, appeared, or disappeared.
    * This is the batch-native form of the reference's WITH_INFO
    * affected-entity tracking (/root/reference/middleware/consumer.py:
    * 189-197: AFFECTED_ENTITIES ids inserted into export_tracker).
    */
  def affectedEntities(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("doc_id"), col("entity_id").as("prev_entity"))
    val c = curr.select(col("doc_id"), col("entity_id").as("curr_entity"))
    val changed = p.join(c, Seq("doc_id"), "full_outer")
      .filter(col("prev_entity").isNull || col("curr_entity").isNull ||
        col("prev_entity") =!= col("curr_entity"))
    changed.select(col("curr_entity").as("entity_id"))
      .unionAll(changed.select(col("prev_entity").as("entity_id")))
      .filter(col("entity_id").isNotNull)
      .distinct()
  }
}
