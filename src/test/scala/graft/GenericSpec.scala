package graft

import graft.normalize.Normalize
import graft.score.Generic
import graft.sources.DocCorpus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generic-value flags: the one-join formulation of
  * Generic.withGenericFlags equals the per-family formulation (one
  * broadcast left join against the hot frame per flag), column for
  * column and row for row.
  */
class GenericSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Reference: one left join per family against that family's slice
    * of the hot frame; a row is flagged when its value is in the slice.
    */
  private def perFamilyFlags(features: DataFrame, cfg: Generic.Config): DataFrame = {
    val (hot, _) = Generic.hotValues(features, cfg)
    Generic.valueCols.foldLeft(features) { case (df, (flagName, valueCol, _)) =>
      val side = hot.filter(col("fam") === flagName).select(col("v").as(s"_hv_$flagName"))
      df.join(broadcast(side), valueCol === col(s"_hv_$flagName"), "left")
        .withColumn(flagName, col(s"_hv_$flagName").isNotNull)
        .drop(s"_hv_$flagName")
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted

  private def assertSameFlags(features: DataFrame): Unit =
    // maxBroadcastHot = 0 takes the shuffle-join path for the hot side
    for (cfg <- Seq(Generic.Config(), Generic.Config(maxBroadcastHot = 0L))) {
      val got = Generic.withGenericFlags(features, cfg)
      val want = perFamilyFlags(features, cfg)
      assert(got.schema == want.schema)
      assert(rows(got) == rows(want), s"flags differ (maxBroadcastHot=${cfg.maxBroadcastHot})")
    }

  test("one-join flags ≡ per-family joins on the synthetic corpus") {
    // three copies under fresh doc_ids: an entity's values then occur
    // in up to 9 docs and cross every threshold (one copy crosses none)
    val one = Normalize.features(DocCorpus.synthetic(spark, 400, seed = 3L).toDF())
    val feats = (0 until 3).map(i => one.withColumn("doc_id", concat(col("doc_id"), lit(s"#$i"))))
      .reduce(_ unionByName _).localCheckpoint(true)
    val flagged = Generic.withGenericFlags(feats)
    assert(flagged.columns.toSeq ==
      feats.columns.toSeq ++ Generic.valueCols.map(_._1))
    // the corpus must exercise the flags, else equality proves nothing
    val flagsSet = Generic.valueCols.map(_._1).map(f => f -> flagged.filter(col(f)).count())
    assert(flagsSet.count(_._2 > 0) >= 4, s"too few flags fire: $flagsSet")
    assertSameFlags(feats)
  }

  test("one-join flags ≡ per-family joins: values shared across families, nulls, duplicate doc_ids") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("email", StringType),
      StructField("phone7", StringType),
      StructField("addr", StructType(Seq(
        StructField("house", StringType), StructField("street", StringType)))),
      StructField("ssn", StringType), StructField("passport", StringType),
      StructField("drlic", StringType), StructField("national_id", StringType),
      StructField("given_can", StringType), StructField("surname", StringType)))
    def r(id: String, email: String, ssn: String, passport: String, house: String,
        street: String, given: String, surname: String): Row =
      Row(id, email, null, if (house == null && street == null) null else Row(house, street),
        ssn, passport, null, null, given, surname)
    val data =
      // "X" is a hot ssn (4 docs) but a cold passport (1 doc)
      (1 to 4).map(i => r(s"S$i", null, "X", null, null, null, null, null)) ++ Seq(
        r("P1", null, null, "X", null, null, null, null),
        // "x@y" is a hot email (4 docs, id threshold) and not hot elsewhere
        r("E1", "x@y", null, null, null, null, null, null),
        r("E2", "x@y", "x@y", null, null, null, null, null),
        r("E3", "x@y", null, null, "1", null, null, null),
        r("E4", "x@y", null, null, "1", "MAIN", "ANN LEE", "SMITH"),
        // an address with a null street still keys as "1:"
        r("A1", null, null, null, "1", null, null, null),
        r("A2", null, null, null, null, "MAIN", null, null),
        // duplicate doc_ids: one identical pair, one with different values
        r("D1", null, "X", null, null, null, null, null),
        r("D1", null, "X", null, null, null, null, null),
        r("D2", null, "X", null, null, null, null, null),
        r("D2", "solo@z", "Y", null, null, null, null, null),
        r("N1", null, null, null, null, null, null, null)) ++
      (1 to 7).map(i => r(s"M$i", null, null, null, null, null, s"ANN B$i", "SMITH"))
    val feats = spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
    val flagged = Generic.withGenericFlags(feats)
    def flag(id: String, f: String): Seq[Boolean] =
      flagged.filter(col("doc_id") === id).select(f).collect().map(_.getBoolean(0)).toSeq.sorted
    assert(flag("S1", "ssn_generic") == Seq(true))
    assert(flag("P1", "passport_generic") == Seq(false), "hotness is per family")
    assert(flag("E2", "email_generic") == Seq(true) && flag("E2", "ssn_generic") == Seq(false))
    assert(flag("D2", "ssn_generic") == Seq(false, true),
      "rows sharing a doc_id keep their own flags")
    assert(flag("M1", "name_generic") == Seq(true), "8 docs share the name key ANN:SMITH")
    assertSameFlags(feats)
  }
}
