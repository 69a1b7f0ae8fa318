package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one way to materialize a frame eagerly at a stage
  * boundary.
  *
  * Materializing truncates the LOGICAL plan. `persist()` would keep it,
  * and downstream branches would then re-transform the full upstream
  * tree in Catalyst on the driver. One job does three things:
  *  - it carries the job description `graft:<tag>` ([[tagged]]);
  *  - it observes `count(1)` plus the caller's extra aggregates through
  *    `Dataset.observe`, so counters cost no second action or scan;
  *  - it stores the frame: a parquet snapshot when `dir` is set
  *    ([[parquet]], read back with the observed schema), else
  *    `localCheckpoint(true)`, which keeps the physical plan's
  *    outputPartitioning and lives in non-replicated executor storage;
  *    [[into]] takes the store from the caller instead
  *    (graft.io.SnapshotStore.stage writes the table's next snapshot).
  *
  * Snapshot paths are `<dir>/<applicationId>/<seq>_<tag>`. The per-app
  * subdir follows SparkContext.setCheckpointDir. The JVM-wide sequence
  * number makes every materialization's path unique, so two runs that
  * share `dir` never overwrite each other's live snapshots, within an
  * app or across apps. The write uses ErrorIfExists mode: a
  * path collision fails loudly instead of clobbering. Dead-app subdirs
  * are garbage like any Spark checkpoint dir; reaping them is the
  * operator's checkpoint hygiene.
  */
object Materialize {

  /** The materialized frame plus the aggregates observed on its job.
    * `extras` holds the caller's aggregates by name; each must evaluate
    * to a non-null long (wrap sums in `coalesce(…, lit(0L))`).
    */
  final case class Result(df: DataFrame, rows: Long, extras: Map[String, Long])

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  def apply(df: => DataFrame, tag: String, dir: Option[String],
      extras: (String, Column)*): Result =
    into(df, tag, extras: _*) { observed =>
      dir match {
        case Some(d) =>
          val app = observed.sparkSession.sparkContext.applicationId
          parquet(observed, s"$d/$app/${seq.getAndIncrement}_$tag", SaveMode.ErrorIfExists)
        case None => observed.localCheckpoint(true)
      }
    }

  /** The one durable write: `observed` as parquet at `path`, read back
    * with `observed.schema`, so the read plans without a job that
    * infers the schema from parquet footers. The boundary is one job.
    */
  def parquet(observed: DataFrame, path: String, mode: SaveMode): DataFrame = {
    observed.write.mode(mode).parquet(path)
    observed.sparkSession.read.schema(observed.schema).parquet(path)
  }

  /** The same boundary with a caller-supplied store: `store` runs the
    * one job that keeps the observed frame and returns the frame read
    * back (e.g. a snapshot store's staged write). `df` is evaluated
    * once, after the job description is set: building a frame can
    * already run jobs (a graft.util.Prepared application executes its
    * input's query stages), and those carry the tag too.
    */
  def into(df: => DataFrame, tag: String, extras: (String, Column)*)
      (store: DataFrame => DataFrame): Result = {
    // UUID name: the Observation registry matches metrics by name
    // session-wide, and concurrent runs must not cross-wire them
    val obs = Observation(s"${tag}_${java.util.UUID.randomUUID}")
    val aggs = count(lit(1)).as("rows") +: extras.map { case (k, c) => c.as(k) }
    val out = tagged(tag)(store(df.observe(obs, aggs.head, aggs.tail: _*)))
    val row = obs.get
    Result(out, row("rows").asInstanceOf[Long],
      extras.map { case (k, _) => k -> row(k).asInstanceOf[Long] }.toMap)
  }

  /** Runs `body`, and every job it starts, under the job description
    * `graft:<tag>` (UI, listeners); restores the caller's description.
    */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$tag")
    try body finally sc.setJobDescription(prior)
  }
}
