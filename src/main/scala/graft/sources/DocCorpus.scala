package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import graft.model.{Doc, Span}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sources producing the canonical interleaved-document table
  * `(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`.
  *
  * Two producers:
  *   - [[fromFlatJsonl]]: reads a JSONL file of flat string-valued
  *     records (the reference's input shape,
  *     /root/reference/test/fixtures/customers.jsonl) and converts each
  *     record to a span sequence, preserving the ORIGINAL key order as
  *     `offset` (spark.read.json would alphabetize columns and lose it,
  *     hence a streaming-parser mapPartitions source).
  *   - [[synthetic]]: a fully deterministic, executor-side generator
  *     that replicates fixture-like entities with seeded perturbations
  *     (nickname swaps, date reformats, address abbreviation, field
  *     dropout) so ground-truth cluster labels are known by
  *     construction. Used for the scaling benchmark.
  */
object DocCorpus {

  /** Required keys per the reference contract
    * (/root/reference/middleware/consumer.py:188 — KeyError → requeue).
    * Records missing either are routed to the quarantine (dead-letter)
    * dataset rather than silently dropped.
    */
  val RequiredKeys: Seq[String] = Seq("DATA_SOURCE", "RECORD_ID")

  /** Parse one flat JSON object into (doc_id, spans) preserving key
    * order. Returns None for records failing the required-key
    * predicate (caller splits those into the quarantine set).
    * A fixed subset of docs (numeric record id ≡ 0 mod 7) gets one
    * synthetic media span appended to exercise the interleaved
    * text+media shape end-to-end.
    */
  private def parseLine(factory: JsonFactory, line: String, addMedia: Boolean): Option[Doc] = {
    val p = factory.createParser(line)
    try {
      parseLine0(p, line, addMedia)
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => None // malformed → quarantine
    } finally p.close()
  }

  private def parseLine0(p: com.fasterxml.jackson.core.JsonParser, line: String,
      addMedia: Boolean): Option[Doc] = {
    {
      if (p.nextToken() != JsonToken.START_OBJECT) return None
      val kv = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val k = p.currentName()
        val t = p.nextToken()
        // the reference contract is FLAT string-valued records
        // (SURVEY §1.1); a nested value would mis-tokenize the rest of
        // the line — quarantine the record instead
        if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY) return None
        kv += ((k, p.getValueAsString))
      }
      val m = kv.toMap
      if (!RequiredKeys.forall(m.contains)) return None
      val docId = m("DATA_SOURCE") + ":" + m("RECORD_ID")
      var spans = kv.zipWithIndex.map { case ((k, v), i) =>
        Span(kind = k.toLowerCase, text = v, media_ref = null, offset = i)
      }.toVector
      // length guard: rid.toLong throws (killing the whole read, not
      // quarantining) past 18 digits; such ids just get no media span
      val rid = m("RECORD_ID").filter(_.isDigit)
      if (addMedia && rid.nonEmpty && rid.length <= 18 && rid.toLong % 7 == 0)
        spans = spans :+ Span("photo", null, s"m://$docId/0", spans.size)
      Some(Doc(docId, spans))
    }
  }

  /** Read a flat-record JSONL file into the canonical doc table.
    * Key order is preserved into `offset`.
    */
  def fromFlatJsonl(spark: SparkSession, path: String, addMedia: Boolean = true): Dataset[Doc] = {
    import spark.implicits._
    spark.read.textFile(path).mapPartitions { lines =>
      val factory = new JsonFactory()
      lines.filter(_.trim.nonEmpty).flatMap(l => parseLine(factory, l, addMedia))
    }
  }

  /** Records failing the required-key predicate → dead-letter dataset
    * (the reference leaves them on the queue for the DLQ redrive,
    * /root/reference/middleware/consumer.py:201-204).
    */
  def quarantineFromFlatJsonl(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(path).mapPartitions { lines =>
      val factory = new JsonFactory()
      lines.filter(_.trim.nonEmpty).filter { l =>
        parseLine(factory, l, addMedia = false).isEmpty
      }
    }
  }

  // --- deterministic synthetic corpus ------------------------------------

  private val FirstNames = Seq("Robert", "Elizabeth", "William", "Jennifer",
    "Michael", "Patricia", "David", "Margaret", "Richard", "Susan",
    "Thomas", "Katherine", "Charles", "Barbara", "Joseph", "Dorothy")
  private val Nicknames = Map(
    "Robert" -> "Bob", "Elizabeth" -> "Liz", "William" -> "Bill",
    "Jennifer" -> "Jen", "Michael" -> "Mike", "Patricia" -> "Pat",
    "David" -> "Dave", "Margaret" -> "Peggy", "Richard" -> "Dick",
    "Susan" -> "Sue", "Thomas" -> "Tom", "Katherine" -> "Kate",
    "Charles" -> "Chuck", "Barbara" -> "Barb", "Joseph" -> "Joe",
    "Dorothy" -> "Dot")
  private val LastNames = Seq("Smith", "Jones", "Williams", "Brown", "Davis",
    "Miller", "Wilson", "Moore", "Taylor", "Anderson", "Thomas", "Jackson",
    "White", "Harris", "Martin", "Thompson", "Garcia", "Martinez",
    "Robinson", "Clark", "Rodriguez", "Lewis", "Lee", "Walker", "Hall",
    "Allen", "Young", "Hernandez", "King", "Wright", "Lopez", "Hill")
  private val Streets = Seq("Main Street", "Oak Lane", "Maple Avenue",
    "Cedar Road", "Elm Drive", "Pine Court", "Washington Boulevard",
    "Lake Street", "Hill Road", "Park Avenue")
  private val StreetsAbbrev = Seq("Main St", "Oak Ln", "Maple Ave",
    "Cedar Rd", "Elm Dr", "Pine Ct", "Washington Blvd",
    "Lake St", "Hill Rd", "Park Ave")
  private val Cities = Seq("Las Vegas NV", "Henderson NV", "Reno NV",
    "Phoenix AZ", "Tucson AZ", "Denver CO", "Boulder CO", "Austin TX")
  // consonant-diverse syllables -> 40^3 = 64k surnames whose soundex
  // codes spread realistically (a surname list built by concatenating a
  // few dozen real names collapses to ~40 soundex codes and produces
  // pathological phonetic blocks)
  private val Syllables = Seq(
    "bar", "con", "dav", "fel", "gor", "har", "jen", "kel", "lom", "mar",
    "nor", "pat", "quin", "ros", "sut", "tor", "van", "wil", "yor", "zim",
    "ash", "bel", "cro", "dun", "ell", "fin", "gra", "hol", "ing", "jor",
    "kin", "lan", "mor", "nel", "ort", "pre", "ric", "sha", "thor", "ude")

  /** Deterministic synthetic interleaved-doc corpus.
    *
    * `nEntities` ground-truth entities; each entity yields 1–3 docs
    * (mean ≈ 2) that are perturbations of a base identity derived
    * purely from the entity id and `seed` — generated executor-side
    * from `spark.range` (no driver loop, no Random, reproducible at
    * any parallelism). Ground truth: docs of entity e have record ids
    * {3e, 3e+1, 3e+2} (subset), so cluster label = id/3.
    */
  def synthetic(spark: SparkSession, nEntities: Long, seed: Long = 42L): Dataset[Doc] = {
    import spark.implicits._
    val fn = FirstNames; val nn = Nicknames; val ln = LastNames
    val st = Streets; val stA = StreetsAbbrev; val ci = Cities
    spark.range(0, nEntities * 3, 1)
      .select($"id")
      .as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val ent = id / 3
          val variant = (id % 3).toInt
          // cheap splittable deterministic hash (xorshift-style mix)
          def mix(x: Long): Long = {
            var z = x + 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z ^ (z >>> 31)
          }
          val h = mix(ent ^ mix(seed))
          val nDocs = 1 + (mix(h) & 0x7fffffffL).toInt % 3 // 1..3 docs
          if (variant >= nDocs) Iterator.empty
          else {
            val first = fn(((h >>> 8) % fn.size).toInt.abs)
            val syl = Syllables
            val last0 = syl(((h >>> 16) % syl.size).toInt.abs) +
              syl(((h >>> 22) % syl.size).toInt.abs) +
              syl(((h >>> 28) % syl.size).toInt.abs)
            val last = last0.capitalize
            val stIdx = ((h >>> 24) % st.size).toInt.abs
            val ciIdx = ((h >>> 32) % ci.size).toInt.abs
            val houseNo = 1 + ((h >>> 40) & 0xffff).toInt
            val phone = f"${100 + ((h >>> 55) & 0xff).toInt % 900}%03d-${(h >>> 12).abs % 1000}%03d-${(h >>> 20).abs % 10000}%04d"
            // unique per entity; 2% share an office mailbox (exercises
            // the generic-value suppression at scale)
            val email =
              if (ent % 50 == 0) s"office${(ent / 50) % 100}@corp.example.com"
              else s"${first.toLowerCase.charAt(0)}${last.toLowerCase.take(8)}$ent@example.com"
            val dobY = 1950 + ((h >>> 4) & 63).toInt % 50
            val dobM = 1 + ((h >>> 10) & 15).toInt % 12
            val dobD = 1 + ((h >>> 14) & 31).toInt % 28
            val hv = mix(h ^ variant)
            // per-variant perturbations
            val firstV = if (variant == 1) nn.getOrElse(first, first) else first
            val addrV =
              if (variant == 2) s"$houseNo ${stA(stIdx)}, ${ci(ciIdx)}"
              else s"$houseNo ${st(stIdx)}, ${ci(ciIdx)}"
            val dobV = variant match {
              case 0 => f"$dobM%d/$dobD%d/$dobY%d"
              case 1 => f"$dobD%02d/$dobM%02d/$dobY%d" // day/month swap form
              case _ => f"$dobY%04d-$dobM%02d-$dobD%02d"
            }
            val docId = s"SYNTH:${id + 1000000}"
            val base = scala.collection.mutable.ArrayBuffer[(String, String)](
              "data_source" -> "SYNTH",
              "record_id" -> (id + 1000000).toString,
              "record_type" -> "PERSON",
              "primary_name_first" -> firstV,
              "primary_name_last" -> last,
              "date_of_birth" -> dobV)
            // field dropout: each optional feature present ~2/3 of the time
            if ((hv & 3) != 0) base += ("addr_line1" -> addrV)
            if (((hv >>> 2) & 3) != 0) base += ("phone_number" -> phone)
            if (((hv >>> 4) & 3) != 0) base += ("email_address" -> email)
            if (((hv >>> 6) & 7) == 0) base += ("ssn_number" -> f"${(h >>> 17).abs % 900 + 100}%03d-${(h >>> 9).abs % 90 + 10}%02d-${h.abs % 10000}%04d")
            var spans = base.zipWithIndex.map { case ((k, v), i) =>
              Span(k, v, null, i)
            }.toVector
            if (id % 7 == 0)
              spans = spans :+ Span("photo", null, s"m://$docId/0", spans.size)
            Iterator.single(Doc(docId, spans))
          }
        }
      }
  }

  /** Ground-truth entity of a [[synthetic]] doc id: `SYNTH:<record_id>`
    * with record_id = 10^6 + 3·entity + variant.
    */
  def syntheticTruth(docId: Column): Column =
    floor((split(docId, ":").getItem(1).cast("long") - 1000000L) / 3)

  /** Pairwise (precision, recall, F1) of `assignments` (doc_id,
    * entity_id) over a [[synthetic]] corpus against its ground truth.
    * Computed from the (predicted, truth) contingency counts — Σ C(n,2)
    * per cell / row / column — so no pair set is ever materialized;
    * O(docs). With no predicted or no true pair all three are 0.
    */
  def syntheticPairF1(assignments: DataFrame): (Double, Double, Double) = {
    val lab = assignments.select(col("entity_id"), syntheticTruth(col("doc_id")).as("truth"))
    def pairs(grouped: DataFrame): Long =
      grouped.agg(coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")), lit(0L)))
        .head().getLong(0)
    val tp = pairs(lab.groupBy("entity_id", "truth").agg(count(lit(1)).as("n")))
    val predP = pairs(lab.groupBy("entity_id").agg(count(lit(1)).as("n")))
    val trueP = pairs(lab.groupBy("truth").agg(count(lit(1)).as("n")))
    if (predP == 0 || trueP == 0) (0.0, 0.0, 0.0)
    else {
      val prec = tp.toDouble / predP
      val rec = tp.toDouble / trueP
      (prec, rec, if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec))
    }
  }
}
