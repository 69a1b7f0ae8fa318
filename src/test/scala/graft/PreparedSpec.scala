package graft

import graft.blocking.Blocking
import graft.model.{Doc, Span}
import graft.normalize.Normalize
import graft.score.{Generic, Scoring}
import graft.sources.DocCorpus
import graft.streaming.IncrementalResolve
import graft.util.{Confs, Prepared}
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft.util.Prepared: a prepared projection equals its direct Catalyst
  * build row for row with the same schema, only pure projections are
  * accepted, and the compiled projections outlive Spark's class cache.
  */
class PreparedSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size == w.size)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  private def doc(id: String, fields: (String, String)*): Doc =
    Doc(id, fields.zipWithIndex.map { case ((k, v), i) => Span(k, v, null, i) })

  /** Span shapes the feature projection branches on. */
  private lazy val edgeDocs = {
    val dobs = Seq("3/14/1959", "03/14/59", "20/8/1991", "1959-03-14", "14-Mar-59",
      "March 14, 1959", "MAR 4, 59", "2001-13-05", "", "garbage", " 3/14/1959 ", null)
    val named = Seq(
      doc("n1", "primary_name_first" -> "Robert", "primary_name_middle" -> "J",
        "primary_name_last" -> "Smith Jr", "gender" -> "male"),
      doc("n2", "name_full" -> "Morris II Smith", "phone_number" -> "(555) 123-4567"),
      doc("n3", "primary_name_full" -> "Ann Marie Lee III", "email_address" -> "Ann <A@X.COM>"),
      doc("n4", "native_name_full" -> "王杰", "addr_full" -> "12 Main St Apt 4 90210"),
      doc("n5", "native_name_full" -> "王?", "addr_line1" -> "7 Oak Ave", "addr_city" -> "Rome"),
      doc("n6", "primary_name_org" -> "ACME, Inc.", "record_type" -> " organization "),
      doc("n7", "primary_name_first" -> "", "primary_name_last" -> "", "ssn_number" -> ""),
      doc("n8", "primary_name_first" -> null, "passport_number" -> "ab-12 34",
        "national_id_number" -> "x9", "national_id_country" -> "de"),
      doc("n9", "name_first" -> "Bill", "name_last" -> "Gates Sr", "drivers_license_number" -> "d1"),
      Doc("n10", Seq.empty),
      Doc("n11", Seq(Span(null, "stray", null, 0), Span("photo", null, "m://n11/0", 1))))
    val withDob = dobs.zipWithIndex.map { case (d, i) =>
      doc(s"b$i", "primary_name_first" -> "Eve", "primary_name_last" -> "Ng", "date_of_birth" -> d)
    }
    (named ++ withDob).toDF()
  }

  test("prepared Normalize.features ≡ its direct Catalyst build") {
    for (docs <- Seq(DocCorpus.synthetic(spark, 300).toDF(), edgeDocs)) {
      assertSame(Normalize.features(docs), Normalize.featureProjection(docs))
    }
  }

  test("prepared pair scoring ≡ the direct comparator chain plus its level filter") {
    val feats0 = Generic.withGenericFlags(
      Normalize.features(DocCorpus.synthetic(spark, 300).toDF())).localCheckpoint(true)
    // swapped-name twins (given and surname exchanged) and raised
    // generic flags, so both name arrangements and every flag branch run
    val flags = Generic.valueCols.map(_._1)
    val twins = feats0.filter(pmod(xxhash64(col("doc_id")), lit(4)) === 0)
      .withColumn("doc_id", concat(col("doc_id"), lit("~t")))
      .withColumn("_g", col("given_can"))
      .withColumn("given_raw", col("surname")).withColumn("given_can", col("surname"))
      .withColumn("surname", col("_g")).drop("_g")
      .select(feats0.columns.map(c =>
        if (flags.contains(c)) (col(c) || pmod(xxhash64(col("doc_id")), lit(3)) === 0).as(c)
        else col(c)): _*)
    val feats = feats0.unionByName(twins).localCheckpoint(true)
    val twinPairs = twins.select(regexp_replace(col("doc_id"), "~t$", "").as("doc_a"),
      col("doc_id").as("doc_b"))
    val pairs = Blocking.candidatePairs(Blocking.blockingKeys(feats))
      .select("doc_a", "doc_b").unionByName(twinPairs).distinct().localCheckpoint(true)
    assert(twinPairs.count() > 20)
    assert(flags.count(f => twins.filter(col(f)).count() > 0) == flags.size)
    val alt = Scoring.Weights(thetaResolve = 3.0, nameDisagree = -2.0)
    for ((bc, w) <- Seq((true, Scoring.Weights()), (false, Scoring.Weights()), (true, alt))) {
      // per-operator codegen: fused into the joins, the direct chain
      // overflows janino's 64 KB method limit and runs interpreted
      val direct = graft.util.Confs.withConfs(spark)("spark.sql.codegen.wholeStage" -> "false") {
        Scoring.compare(Scoring.pairFeatures(pairs, feats, bc), w)
          .filter(col("level").isNotNull).localCheckpoint(true)
      }
      assertSame(Scoring.scorePairs(pairs, feats, w, broadcastFeatures = bc), direct)
    }
  }

  test("a build that is not a pure projection is rejected") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val builds: Seq[(String, DataFrame => DataFrame)] = Seq(
      "filter" -> (_.filter(col("v") > 1)),
      "aggregate" -> (_.groupBy("k").count()),
      "join" -> (d => d.join(d.select(col("k").as("k2")), col("k") === col("k2"))),
      "generator" -> (_.select(explode(array(col("v"), col("v"))))),
      "nondeterministic" -> (_.select((col("v") + rand()).as("r"))))
    builds.foreach { case (what, b) =>
      val p = Prepared[Unit](what)((d, _) => b(d))
      intercept[IllegalArgumentException](p(df, ()))
    }
    // a pure projection still passes
    assert(Prepared[Unit]("ok")((d, _) => d.select((col("v") * 2).as("w")))(df, ())
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(2L, 4L))
  }

  test("the compiled projections survive Spark's class cache") {
    val docs = DocCorpus.synthetic(spark, 50, seed = 9L).toDF().repartition(1)
      .localCheckpoint(true)
    val first = Normalize.features(docs).collect()
    val created = Prepared.created.get
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // more unrelated generated classes than the cache's 100 entries
    (0 until 110).foreach(i =>
      spark.range(2).selectExpr(s"id * ${i + 3} + ${7 * i} AS x").collect())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled > 100)
    val second = Normalize.features(docs).collect()
    assert(Prepared.created.get == created, "a second application compiled its projection again")
    assert(second.toSeq == first.toSeq)
  }

  test("a projection first built inside a NO_CODEGEN window is compiled, and reused outside") {
    // an incremental batch interprets everything but the prepared
    // projections; their pool outlives the batch's window
    val docs = DocCorpus.synthetic(spark, 50, seed = 11L).toDF().repartition(1)
      .localCheckpoint(true)
    val probe = Prepared[Unit]("normalize probe")((d, _) => Normalize.featureProjection(d))
    val inside = Confs.withConfs(spark)(IncrementalResolve.CodegenFactoryMode -> "NO_CODEGEN") {
      probe(docs, ()).collect()
    }
    val sets = probe.pooled
    assert(sets.nonEmpty)
    sets.flatten.foreach(p => assert(!p.isInstanceOf[InterpretedUnsafeProjection],
      "the pooled projection was built interpreted"))
    val created = Prepared.created.get
    val outside = probe(docs, ()).collect()
    assert(Prepared.created.get == created, "a later use outside the window compiled again")
    assert(outside.toSeq == inside.toSeq)
  }

  test("internal rows and compiled projections appear only in the bridge and Prepared") {
    // token -> the one file (under src/main/scala) allowed to use it
    val owners = Map(
      "internalCreateDataFrame" -> "graft/functions/sqlbridge.scala",
      "UnsafeProjection.create" -> "graft/util/Prepared.scala",
      "GenerateUnsafeProjection" -> "graft/util/Prepared.scala")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"tests must run from the repository root: $root")
    val walk = Files.walk(root)
    val offenders = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if owners.exists { case (tok, owner) =>
              line.contains(tok) && rel != owner } => s"$rel:${i + 1}: ${line.trim}"
        }
      } finally walk.close()
    assert(offenders.isEmpty, "found outside their owner file:\n" + offenders.mkString("\n"))
    owners.foreach { case (tok, owner) =>
      assert(Files.readString(root.resolve(owner)).contains(tok), s"$tok not in $owner")
    }
  }
}
