package graft

import graft.io.SnapshotStore
import graft.jobs.{ExportJob, ResolveJob}
import graft.sources.DocCorpus
import java.nio.file.Files
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level pins of the entity report on the synthetic corpus, so a
  * change to assembly or export that moves a single byte of the JSONL
  * fails here without the reference fixture. Each pin is the SHA-256 of
  * the export's lines, sorted and joined by newlines; the digests were
  * recorded before entity assembly was rebuilt around one aggregation
  * per entity.
  */
class ExportPinSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private lazy val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF()
  private lazy val full = ResolveJob.run(spark, docs)
  private lazy val store = new SnapshotStore(Files.createTempDirectory("exportpin").toString)

  private def digest(mode: ExportJob.Mode): (Int, String) = {
    val lines = ExportJob.export(spark, store, full, mode).collect().map(_.getString(0)).sorted
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    (lines.length, sha)
  }

  test("full export of the synthetic corpus is pinned by digest") {
    assert(digest(ExportJob.Full) ==
      (301, "a201d4cc671676fdb3790406cfc5b6c5c54888fa590427fd58723fc52445e262"))
  }

  test("delta export between two committed assignment snapshots is pinned by digest") {
    // snapshot 1 lacks the second doc of every tenth entity (ids 30k+1);
    // snapshot 2 is the whole corpus, so those entities are affected
    val held = (substring_index(col("doc_id"), ":", -1).cast("long") - 1000000L) % 30 === 1
    store.commit(ResolveJob.run(spark, docs.filter(!held)).assignments, "assignments")
    store.commit(full.assignments, "assignments")
    assert(digest(ExportJob.Delta(1, 2)) ==
      (19, "397c6a124809fae0e58978569525e437bbb35c49359d1ef9ade516ae72bf6cb1"))
  }
}
