package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Field-level diff of our entity report against the reference golden
  * export (/root/reference/test/fixtures/flow-output.jsonl) — the
  * measurement behind GoldenExportSpec's pinned thresholds.
  */
object GoldenDiff {

  final case class GoldenEntity(
      name: String,
      featureKeys: Set[String],
      summary: Seq[(String, Long)],
      records: Map[String, (String, String, String)], // rid -> (level, key, errule)
      related: Map[Long, (String, String, Int)]) // other entity id -> (level, key, amb)

  def loadGolden(): Map[Set[String], GoldenEntity] = {
    val mapper = new ObjectMapper()
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/root/reference/test/fixtures/flow-output.jsonl")).asScala
    lines.map { l =>
      val n = mapper.readTree(l)
      val re = n.get("RESOLVED_ENTITY")
      val recs = re.get("RECORDS").elements().asScala.toSeq
      val rids = recs.map(_.get("RECORD_ID").asText()).toSet
      val records = recs.map(r => r.get("RECORD_ID").asText() ->
        ((r.get("MATCH_LEVEL_CODE").asText(), r.get("MATCH_KEY").asText(),
          r.get("ERRULE_CODE").asText()))).toMap
      val feats = re.get("FEATURES").fieldNames().asScala.toSet
      val summary = re.get("RECORD_SUMMARY").elements().asScala.toSeq
        .map(s => (s.get("DATA_SOURCE").asText(), s.get("RECORD_COUNT").asLong()))
      val related = Option(n.get("RELATED_ENTITIES")).toSeq
        .flatMap(_.elements().asScala)
        .map(r => r.get("ENTITY_ID").asLong() ->
          ((r.get("MATCH_LEVEL_CODE").asText(), r.get("MATCH_KEY").asText(),
            r.get("IS_AMBIGUOUS").asInt()))).toMap
      rids -> GoldenEntity(re.get("ENTITY_NAME").asText(), feats, summary, records, related)
    }.toMap
  }

  final case class Stats(
      ourEntities: Int, clusterEq: Int, nameEq: Int, featEq: Int, sumEq: Int,
      recTotal: Int, recLevelEq: Int, recKeyEq: Int, recErruleEq: Int,
      relTotal: Int, relMatched: Int, relLevelEq: Int, relKeyEq: Int, relAmbEq: Int,
      ambiguousRelatedOurs: Int)

  def run(spark: SparkSession): Stats = {
    val docs = DocCorpus.fromFlatJsonl(spark, FixtureEval.CustomersPath).toDF()
    val result = ResolveJob.run(spark, docs)
    val mapper = new ObjectMapper()
    val ours = graft.assemble.Assemble.toExportJson(result.entities)
      .collect().map(r => mapper.readTree(r.getString(0)))

    // golden entity id -> member set (to translate RELATED_ENTITIES ids)
    val golden = loadGolden()
    val goldenIdToMembers: Map[Long, Set[String]] = {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/root/reference/test/fixtures/flow-output.jsonl")).asScala
      lines.map { l =>
        val n = mapper.readTree(l).get("RESOLVED_ENTITY")
        n.get("ENTITY_ID").asLong() ->
          n.get("RECORDS").elements().asScala.map(_.get("RECORD_ID").asText()).toSet
      }.toMap
    }

    def rid(docId: String): String = docId.split(":").last
    var nameEq, featEq, sumEq, clusterEq = 0
    var recTotal, recLevelEq, recKeyEq, recErruleEq = 0
    var relTotal, relMatched, relLevelEq, relKeyEq, relAmbEq, relAmbOurs = 0
    val nameMiss = scala.collection.mutable.ArrayBuffer[String]()
    val featMiss = scala.collection.mutable.ArrayBuffer[String]()
    val keyMiss = scala.collection.mutable.ArrayBuffer[String]()

    // our entity_key -> member set
    val ourKeyToMembers: Map[Long, Set[String]] = ours.map { o =>
      val re = o.get("RESOLVED_ENTITY")
      re.get("ENTITY_ID").asLong() ->
        re.get("RECORDS").elements().asScala.map(r => rid(r.get("DOC_ID").asText())).toSet
    }.toMap

    ours.foreach { o =>
      val re = o.get("RESOLVED_ENTITY")
      val members = re.get("RECORDS").elements().asScala
        .map(r => rid(r.get("DOC_ID").asText())).toSet
      golden.get(members) match {
        case None => println(s"NO GOLDEN CLUSTER for $members")
        case Some(g) =>
          clusterEq += 1
          val ourName = re.get("ENTITY_NAME").asText()
          if (ourName.replaceAll("\\s+", " ").trim == g.name.replaceAll("\\s+", " ").trim) nameEq += 1
          else nameMiss += s"$members: ours='$ourName' golden='${g.name}'"
          val ourFeats = re.get("FEATURES").fieldNames().asScala.toSet
          if (ourFeats == g.featureKeys) featEq += 1
          else featMiss += s"$members: ours=$ourFeats golden=${g.featureKeys}"
          val ourSum = re.get("RECORD_SUMMARY").elements().asScala
            .map(s => (s.get("DATA_SOURCE").asText(), s.get("RECORD_COUNT").asLong())).toSeq
          if (ourSum == g.summary) sumEq += 1
          re.get("RECORDS").elements().asScala.foreach { r =>
            recTotal += 1
            val (gl, gk, ge) = g.records(rid(r.get("DOC_ID").asText()))
            if (r.get("MATCH_LEVEL_CODE").asText() == gl) recLevelEq += 1
            if (r.get("MATCH_KEY").asText() == gk) recKeyEq += 1
            else keyMiss += s"${rid(r.get("DOC_ID").asText())}: ours='${r.get("MATCH_KEY").asText()}' golden='$gk'"
            if (r.get("ERRULE_CODE").asText() == ge) recErruleEq += 1
            else keyMiss += s"ERRULE ${rid(r.get("DOC_ID").asText())}: ours='${r.get("ERRULE_CODE").asText()}' (key '${r.get("MATCH_KEY").asText()}') golden='$ge' (key '$gk')"
          }
          // related: translate our RELATED_ENTITY_KEY (entity_key of other)
          val ourRelated = Option(o.get("RELATED_ENTITIES")).toSeq
            .flatMap(_.elements().asScala)
          ourRelated.foreach { r =>
            relTotal += 1
            if (r.get("IS_AMBIGUOUS").asInt() == 1) relAmbOurs += 1
            // find the other entity's member set by its ENTITY_ID
            val otherEid = Option(r.get("ENTITY_ID")).map(_.asLong())
            val otherMembers = ourKeyToMembers.get(otherEid.getOrElse(-1L))
            val gRel = otherMembers.flatMap { m =>
              goldenIdToMembers.find(_._2 == m).flatMap(kv => g.related.get(kv._1))
            }
            gRel match {
              case Some((gl, gk, ga)) =>
                relMatched += 1
                if (r.get("MATCH_LEVEL_CODE").asText() == gl) relLevelEq += 1
                if (r.get("MATCH_KEY").asText() == gk) relKeyEq += 1
                else keyMiss += s"REL ${members.toSeq.sorted.headOption.getOrElse("?")}->${otherMembers.map(_.toSeq.sorted.headOption.getOrElse("?")).getOrElse("?")}: ours='${r.get("MATCH_KEY").asText()}'(${r.get("MATCH_LEVEL_CODE").asText()}) golden='$gk'($gl)"
                if (r.get("IS_AMBIGUOUS").asInt() == ga) relAmbEq += 1
              case None => ()
            }
          }
      }
    }
    nameMiss.take(8).foreach(m => println(s"  NAME miss: $m"))
    featMiss.take(8).foreach(m => println(s"  FEAT miss: $m"))
    keyMiss.take(40).foreach(m => println(s"  KEY miss: $m"))
    Stats(ours.length, clusterEq, nameEq, featEq, sumEq,
      recTotal, recLevelEq, recKeyEq, recErruleEq,
      relTotal, relMatched, relLevelEq, relKeyEq, relAmbEq, relAmbOurs)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s = run(spark)
    println(s"clusters: ${s.clusterEq}/${s.ourEntities} (golden 74)")
    println(s"ENTITY_NAME eq: ${s.nameEq}/${s.clusterEq}")
    println(s"FEATURES keys eq: ${s.featEq}/${s.clusterEq}")
    println(s"RECORD_SUMMARY eq: ${s.sumEq}/${s.clusterEq}")
    println(s"RECORDS: total=${s.recTotal} levelEq=${s.recLevelEq} keyEq=${s.recKeyEq} erruleEq=${s.recErruleEq}")
    println(s"RELATED: ours=${s.relTotal} matchedGolden=${s.relMatched} levelEq=${s.relLevelEq} keyEq=${s.relKeyEq} ambEq=${s.relAmbEq} ambOurs=${s.ambiguousRelatedOurs}")
    spark.stop()
  }
}
