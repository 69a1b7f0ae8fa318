package graft

import graft.assemble.Assemble
import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import graft.util.{Confs, Materialize}
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
    // the labels read the last durable cc_iter_* snapshot: CC writes no
    // assignments frame of its own
    assert(names.exists(_.contains("cc_iter")), s"no CC iteration snapshot in $names")
    assert(!names.exists(_.contains("cc_assignments")), s"a cc_assignments snapshot in $names")
  }

  test("assignments are identical at 2 and 8 shuffle partitions") {
    val (assign, lines) = resolve(2)
    assert(assign == inMemory._1)
    // the range-based ENTITY_ID/LIB_FEAT_ID numbering and the report's
    // range layout must not depend on the partition count
    assert(lines == inMemory._2, "export lines differ between 2 and 8 shuffle partitions")
  }

  test("a snapshot root resumes only the docs input it was written from") {
    val root = Files.createTempDirectory("resumeroot").toString
    val cfg = ResolveJob.Config(snapshotRoot = Some(root))
    val docs1 = DocCorpus.synthetic(spark, 150, seed = 1L).toDF()
    def assignments(r: ResolveJob.Result) =
      r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toSet
    val first = ResolveJob.run(spark, docs1, cfg)
    val err = intercept[IllegalStateException](
      ResolveJob.run(spark, DocCorpus.synthetic(spark, 150, seed = 2L).toDF(), cfg))
    assert(err.getMessage.contains(root), err.getMessage)
    val again = ResolveJob.run(spark, docs1, cfg)
    val stages = first.stageMillis.map(_._1).filter(n => Files.isDirectory(Paths.get(root, n)))
    assert(stages.contains("docs") && stages.contains("assignments"), stages)
    assert(again.resumedStages == stages)
    assert(assignments(again) == assignments(first))
  }

  test("a run killed after any committed stage resumes to the clean run's output") {
    val corpus = DocCorpus.synthetic(spark, 150, seed = 1L).toDF()
    def run(root: java.nio.file.Path) =
      ResolveJob.run(spark, corpus, ResolveJob.Config(snapshotRoot = Some(root.toString)))
    def outputs(r: ResolveJob.Result) =
      (r.assignments.collect().map(x => (x.getString(0), x.getString(1))).toSet,
        Assemble.toExportJson(r.entities).collect().map(_.getString(0)).sorted.toSeq)
    val cleanRoot = Files.createTempDirectory("killclean")
    val clean = run(cleanRoot)
    val want = outputs(clean)
    val committed = clean.stageMillis.map(_._1).filter(n => Files.isDirectory(cleanRoot.resolve(n)))
    // suppression fires nothing on this corpus, so edges/ambiguous_docs
    // are not staged and the raw-score stage feeds CC directly
    assert(clean.metrics("ambiguous_docs") == 0L && clean.ambiguousDocs.isEmpty)
    assert(committed == Seq("docs", "features_raw", "features", "pairs", "edges_raw",
      "assignments"), committed)
    def tree(p: java.nio.file.Path) = {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toList finally walk.close()
    }
    for ((stage, k) <- committed.zipWithIndex) {
      // the crash: stages after k were never committed
      val root = Files.createTempDirectory("killed")
      tree(cleanRoot).foreach(f => Files.copy(f, root.resolve(cleanRoot.relativize(f).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      for (later <- committed.drop(k + 1); t <- Seq(later, s"_lineage_$later"))
        if (Files.exists(root.resolve(t))) tree(root.resolve(t)).reverse.foreach(Files.delete)
      val resumed = run(root)
      assert(resumed.resumedStages == committed.take(k + 1), s"killed after $stage")
      assert(outputs(resumed) == want, s"killed after $stage: output differs from a clean run")
    }
  }

  test("a durable Materialize is one job: the read-back infers no schema") {
    val dir = Files.createTempDirectory("matjobs").toString
    val (r, jobs) = SparkSuite.jobDescriptions(
      Materialize(spark.range(100).toDF("x"), "one_job", Some(dir)))
    assert(jobs == Seq("graft:one_job"), s"a durable boundary ran ${jobs.size} jobs: $jobs")
    assert(r.rows == 100L && r.df.count() == 100L)
  }

  test("a parquet write appears only in Materialize and the frozen Verify dump") {
    val allowed = Set("graft/util/Materialize.scala", "graft/Verify.scala")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"tests must run from the repository root: $root")
    // `.write`, then a chain of builder calls, then a parquet sink
    val arg = """\((?:[^()]|\([^()]*\))*\)"""
    val pattern = ("""\.write\b(?:\s*\.\w+(?:""" + arg + """)?)*?\s*""" +
      """(?:\.parquet\(|\.format\("parquet"\))""").r
    val walk = Files.walk(root)
    val writers = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString.replace('\\', '/') -> Files.readString(f))
      .collect { case (rel, text) if pattern.findFirstIn(text).isDefined => rel }
      finally walk.close()
    assert(writers.toSet.contains("graft/util/Materialize.scala"), writers)
    assert(writers.forall(allowed), "a durable write must go through " +
      s"graft.util.Materialize.parquet: ${writers.filterNot(allowed).mkString(", ")}")
  }

  test("localCheckpoint and Observation appear only in Materialize and documented exceptions") {
    // file -> a fragment every matching line in it must contain
    val allowed = Map(
      "graft/util/Materialize.scala" -> "") // the helper itself
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
