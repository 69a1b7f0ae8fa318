package graft

import graft.io.SnapshotStore
import graft.jobs.{ExportJob, ResolveJob}
import graft.sources.DocCorpus
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every job the engine runs carries a `graft:<tag>` job description
  * (graft.util.Materialize.tagged), so a listener keyed on the tags sees
  * all of a run's work.
  */
class JobTagSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("every job of a batch resolve and its full export is tagged graft:<tag>") {
    val sc = spark.sparkContext
    val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF()
    val out = Files.createTempDirectory("jobtags").toString
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    val marker = "jobtagspec:end"
    sc.addSparkListener(listener)
    try {
      val r = ResolveJob.run(spark, docs)
      ExportJob.write(ExportJob.export(spark, new SnapshotStore(out), r, ExportJob.Full),
        out, "tags", ExportJob.Full)
      // listener events arrive asynchronously but in order: once the
      // marker job's start is seen, every earlier job's has been too
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!descriptions.contains(marker) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(descriptions.contains(marker), "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    val jobs = descriptions.asScala.toSeq.filter(_ != marker)
    val untagged = jobs.filterNot(_.startsWith("graft:"))
    assert(jobs.nonEmpty && untagged.isEmpty,
      s"${untagged.size} of ${jobs.size} jobs untagged: ${untagged.distinct.mkString(", ")}")
  }
}
