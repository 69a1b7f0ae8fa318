package graft.util

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one way to materialize a frame eagerly at a stage
  * boundary.
  *
  * Materializing truncates the LOGICAL plan. `persist()` would keep it,
  * and downstream branches would then re-transform the full upstream
  * tree in Catalyst on the driver. One job does three things:
  *  - it carries the job description `graft:<tag>` (UI, listeners);
  *  - it observes `count(1)` plus the caller's extra aggregates through
  *    `Dataset.observe`, so counters cost no second action or scan;
  *  - it stores the frame: a parquet snapshot when `dir` is set, else
  *    `localCheckpoint(true)`, which keeps the physical plan's
  *    outputPartitioning and lives in non-replicated executor storage;
  *    [[into]] takes the store from the caller instead
  *    (graft.io.SnapshotStore.stage writes the table's next snapshot).
  *
  * Snapshot paths are `<dir>/<applicationId>/<seq>_<tag>`. The per-app
  * subdir follows SparkContext.setCheckpointDir. The JVM-wide sequence
  * number makes every materialization's path unique, so two runs that
  * share `dir` never overwrite each other's live snapshots, within an
  * app or across apps. The write uses the default ErrorIfExists mode: a
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

  def apply(df: DataFrame, tag: String, dir: Option[String],
      extras: (String, Column)*): Result =
    into(df, tag, extras: _*) { observed =>
      dir match {
        case Some(d) =>
          val sc = df.sparkSession.sparkContext
          val path = s"$d/${sc.applicationId}/${seq.getAndIncrement}_$tag"
          observed.write.parquet(path)
          df.sparkSession.read.parquet(path)
        case None => observed.localCheckpoint(true)
      }
    }

  /** The same boundary with a caller-supplied store: `store` runs the
    * one job that keeps the observed frame and returns the frame read
    * back (e.g. a snapshot store's staged write).
    */
  def into(df: DataFrame, tag: String, extras: (String, Column)*)
      (store: DataFrame => DataFrame): Result = {
    val sc = df.sparkSession.sparkContext
    // UUID name: the Observation registry matches metrics by name
    // session-wide, and concurrent runs must not cross-wire them
    val obs = Observation(s"${tag}_${java.util.UUID.randomUUID}")
    val aggs = count(lit(1)).as("rows") +: extras.map { case (k, c) => c.as(k) }
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    // restore, not clear: the caller may have set its own description
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$tag")
    val out = try store(observed) finally sc.setJobDescription(prior)
    val row = obs.get
    Result(out, row("rows").asInstanceOf[Long],
      extras.map { case (k, _) => k -> row(k).asInstanceOf[Long] }.toMap)
  }
}
