package graft

import graft.blocking.Blocking
import java.nio.file.{Files, Paths}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One ER composition: a batch resolve and an incremental batch run the
  * same core (graft.jobs.ResolveJob.resolveDelta) and generate candidate
  * pairs with the same function.
  */
class ResolveCoreSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  // tiers at toy sizes: cold ≤ 3 members, hot 4..6, mega ≥ 7
  private val cfg = Blocking.Config(maxBlockSize = 3, megaCap = 6, salts = 2)

  /** A block table: (doc_id, bkey) rows, null keys included, and a
    * touched subset of its docs.
    */
  private case class Case(docs: Seq[String], rows: Seq[(String, String)], touched: Set[String])

  private val genCase: Gen[Case] = for {
    nDocs <- Gen.choose(8, 24)
    docs = (1 to nDocs).map(i => f"D$i%02d")
    sizes <- Gen.listOfN(8, Gen.frequency(
      4 -> Gen.choose(1, cfg.maxBlockSize),
      2 -> Gen.choose(cfg.maxBlockSize + 1, cfg.megaCap),
      2 -> Gen.choose(cfg.megaCap + 1, nDocs)))
    members <- Gen.sequence[List[Seq[String]], Seq[String]](
      sizes.map(n => Gen.pick(n, docs).map(_.toSeq)))
    nullKeyed <- Gen.someOf(docs)
    touched <- Gen.frequency(1 -> Gen.const(Set.empty[String]), 1 -> Gen.const(docs.toSet),
      4 -> Gen.someOf(docs).map(_.toSet))
  } yield Case(docs,
    members.zipWithIndex.flatMap { case (m, k) => m.map(_ -> s"K$k") } ++
      nullKeyed.map(_ -> (null: String)),
    touched)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("candidatePairs with a touched set == all candidate pairs with a touched endpoint") {
    var hot, mega, noneTouched, allTouched = 0
    val prop = Prop.forAll(genCase) { c =>
      val blocks = c.rows.toDF("doc_id", "bkey")
      val sizes = c.rows.filter(_._2 != null).groupMapReduce(_._2)(_ => 1)(_ + _).values
      hot += sizes.count(n => n > cfg.maxBlockSize && n <= cfg.megaCap)
      mega += sizes.count(_ > cfg.megaCap)
      if (c.touched.isEmpty) noneTouched += 1
      if (c.touched.size == c.docs.size) allTouched += 1
      val all = pairs(Blocking.candidatePairs(blocks, cfg))
      val got = pairs(Blocking.candidatePairs(blocks, cfg, Some(c.touched.toSeq.toDF("doc_id"))))
      got == all.filter { case (a, b) => c.touched(a) || c.touched(b) }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
    assert(hot > 0 && mega > 0 && noneTouched > 0 && allTouched > 0,
      s"generator coverage: hot=$hot mega=$mega empty=$noneTouched all=$allTouched")
  }

  test("each ER stage function has exactly one call site in src/main, in the one core") {
    // function -> the file that defines it
    val once = Map(
      "Normalize.features(" -> "graft/normalize/Normalize.scala",
      "Generic.withGenericFlags(" -> "graft/score/Generic.scala",
      "Blocking.candidatePairs(" -> "graft/blocking/Blocking.scala",
      "Scoring.scorePairs(" -> "graft/score/Scoring.scala",
      "Ambiguity.suppress(" -> "graft/score/Ambiguity.scala")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"tests must run from the repository root: $root")
    val walk = Files.walk(root)
    val lines = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            (rel, i + 1, line)
        }
      } finally walk.close()
    def sites(call: String, definedIn: String): Seq[String] = lines.collect {
      case (rel, n, line) if line.contains(call) && rel != definedIn => s"$rel:$n"
    }
    val found = once.map { case (call, definedIn) => call -> sites(call, definedIn) }
    found.foreach { case (call, at) =>
      assert(at.size == 1, s"$call must have exactly one call site, found: $at")
    }
    val files = found.values.flatten.map(_.takeWhile(_ != ':')).toSet
    assert(files == Set("graft/jobs/ResolveJob.scala"),
      s"every ER stage call must be in the core: $found")
    assert(sites("Blocking.cappedBlocks(", "graft/blocking/Blocking.scala").isEmpty,
      "the engine generates pairs with candidatePairs only")
  }
}
