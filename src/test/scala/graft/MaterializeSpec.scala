package graft

import graft.assemble.Assemble
import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import graft.util.Confs
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One materialize convention (graft.util.Materialize): every eager
  * stage boundary goes through it, and its durable path resolves
  * exactly like the in-memory one. Runs on the synthetic corpus, so it
  * needs no external fixture.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private lazy val docs = DocCorpus.synthetic(spark, 300, seed = 5L).toDF()

  /** Assignments and sorted export lines of one resolve, computed
    * inside a `spark.sql.shuffle.partitions` window.
    */
  private def resolve(partitions: Int, cfg: ResolveJob.Config = ResolveJob.Config())
      : (Set[(String, String)], Seq[String]) =
    Confs.withConfs(spark)("spark.sql.shuffle.partitions" -> partitions.toString) {
      val r = ResolveJob.run(spark, docs, cfg)
      (r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toSet,
        Assemble.toExportJson(r.entities).collect().map(_.getString(0)).sorted.toSeq)
    }

  private lazy val inMemory = resolve(8)

  test("durable path: snapshotRoot + checkpointDir resolves like the in-memory path") {
    val root = Files.createTempDirectory("matroot").toString
    val ckpt = Files.createTempDirectory("matckpt").toString
    val (assign, lines) = resolve(8,
      ResolveJob.Config(snapshotRoot = Some(root), checkpointDir = Some(ckpt)))
    assert(assign == inMemory._1, "durable-path assignments differ")
    assert(lines == inMemory._2, "durable-path export differs")
    val appDir = Paths.get(ckpt, spark.sparkContext.applicationId)
    val snaps = Files.list(appDir)
    val names = try snaps.iterator().asScala.map(_.getFileName.toString).toSet
      finally snaps.close()
    assert(names.exists(_.contains("asm_docs")), s"no asm_docs snapshot in $names")
    assert(names.exists(_.contains("cc_iter")) && names.exists(_.contains("cc_assignments")),
      s"no CC snapshots in $names")
  }

  test("assignments are identical at 2 and 8 shuffle partitions") {
    assert(resolve(2)._1 == inMemory._1)
  }

  test("localCheckpoint and Observation appear only in Materialize and documented exceptions") {
    // file -> a fragment every matching line in it must contain
    val allowed = Map(
      "graft/util/Materialize.scala" -> "", // the helper itself
      // harness frame shared by the ANN queries, never released (ROADMAP 5b)
      "graft/SparkEntry.scala" -> "plantedEmbeddings(",
      // kept evaluator main: it stages its own timed pipeline
      "graft/tools/ScaleEval.scala" -> "")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"tests must run from the repository root: $root")
    val pattern = """\blocalCheckpoint\(|\bObservation\(""".r
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined &&
              !line.trim.startsWith("//") && !line.trim.startsWith("*") &&
              !allowed.get(rel).exists(line.contains) => s"$rel:${i + 1}: ${line.trim}"
        }
      } finally walk.close()
    assert(offenders.isEmpty,
      "eager materialization must go through graft.util.Materialize:\n" +
        offenders.mkString("\n"))
  }
}
