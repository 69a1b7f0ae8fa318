package graft

import graft.io.SnapshotStore
import graft.jobs.{ExportJob, ResolveJob}
import graft.sources.DocCorpus
import graft.streaming.IncrementalResolve
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Every job the engine runs carries a `graft:<tag>` job description
  * (graft.util.Materialize.tagged), so a listener keyed on the tags sees
  * all of a run's work.
  */
class JobTagSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("every job of a batch resolve and its full export is tagged graft:<tag>") {
    val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF()
    val out = Files.createTempDirectory("jobtags").toString
    val (_, jobs) = SparkSuite.jobDescriptions {
      val r = ResolveJob.run(spark, docs)
      ExportJob.write(ExportJob.export(spark, new SnapshotStore(out), r, ExportJob.Full),
        out, "tags", ExportJob.Full)
    }
    val untagged = jobs.filterNot(_.startsWith("graft:"))
    assert(jobs.nonEmpty && untagged.isEmpty,
      s"${untagged.size} of ${jobs.size} jobs untagged: ${untagged.distinct.mkString(", ")}")
  }

  test("connected components materialize no assignments frame in a resolve or a batch") {
    import spark.implicits._
    // CC's labels are its fixpoint's star edges; the one eager boundary
    // around them is the caller's `assignments` stage
    val docs = DocCorpus.synthetic(spark, 150, seed = 3L).collect().toSeq
    val store = new SnapshotStore(Files.createTempDirectory("ccjobs").toString)
    val (_, jobs) = SparkSuite.jobDescriptions {
      ResolveJob.run(spark, docs.toDF())
      IncrementalResolve.processBatch(spark, store, docs.take(200).toDF())
      IncrementalResolve.processBatch(spark, store, docs.drop(200).toDF())
    }
    assert(jobs.contains("graft:cc_iter_0") && jobs.contains("graft:assignments"),
      jobs.distinct)
    assert(!jobs.contains("graft:cc_assignments"),
      s"${jobs.count(_ == "graft:cc_assignments")} cc_assignments jobs")
  }
}
