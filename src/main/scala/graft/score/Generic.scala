package graft.score

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic-value suppression (Senzing's "generic threshold" concept):
  * a feature value shared by too many docs stops being resolution
  * evidence — a corporate switchboard phone or a shared
  * `info@...` mailbox identifies an organization, not a person.
  *
  * Contract evidence: in the reference's golden output
  * (/root/reference/test/fixtures/flow-output.jsonl) no match key ever
  * credits +EMAIL for `info@ca-state.gov` (≈20 records) or
  * `Kusha123@hmail.com` (4 records), while 3-record emails like
  * `bsmith@work.com` and `sthomp45@fmail.com` do resolve — so the
  * default doc-count threshold here is 4.
  *
  * Scale design: per-feature hot-value sets are Zipf HEADS relative to
  * the corpus but grow linearly in absolute size (at 10^10 docs, every
  * name shared by ≥7 docs is millions of strings) — so they are NEVER
  * collected to the driver. One exploded aggregate computes every
  * family's hot set in a single scan; the materialized hot frame is
  * the build side of ONE semi-join for all families. It is broadcast
  * while the hot count (observed on the materialization job — no extra
  * action) stays under [[Config.maxBroadcastHot]]; past that it
  * degrades to a shuffle join, which is the only shape that exists at
  * 10^12 docs.
  */
object Generic {

  /** `threshold` applies to person-exclusive identifiers; addresses are
    * shared by households/buildings, so their cutoff is higher; full
    * canonical NAMES shared by ≥ `nameThreshold` docs are population
    * cohorts ("John Smith") — agreement still scores, but damped
    * (Fellegi–Sunter: the weight of an agreement is the log-ratio of
    * match/coincidence probability, and a common name's coincidence
    * probability is high; measured on the 400k synthetic corpus, bare
    * name+DOB pairs inside such cohorts are ~55% false).
    *
    * `maxBroadcastHot`: total hot values (all families) up to which the
    * flag join uses a broadcast build side; beyond it it falls back to a
    * shuffle join. ~5M short strings ≈ low hundreds of MB broadcast —
    * the practical executor-memory boundary.
    */
  /** Phones sit between exclusive ids and addresses: a landline is
    * shared by a household (golden: a 4-record household line still
    * credits +PHONE) while a 4-record mailbox is already generic — so
    * phones get the address-style cutoff, not the id one.
    */
  final case class Config(threshold: Int = 4, addrThreshold: Int = 8,
      phoneThreshold: Int = 8, nameThreshold: Int = 7,
      maxBroadcastHot: Long = 5000000L)

  /** The (flagColumn, valueExpression, thresholdKind) triples. */
  private[graft] def valueCols: Seq[(String, Column, String)] = Seq(
    ("email_generic", col("email"), "id"),
    // key-render tier: the reference still RENDERS +EMAIL for a
    // family-shared mailbox (4 uses) but suppresses an org-wide one
    // (20+); scoring genericity stays at the stricter id threshold
    ("email_verygeneric", col("email"), "phone"),
    ("phone_generic", col("phone7"), "phone"),
    ("addr_generic", when(col("addr.house").isNotNull,
      concat(col("addr.house"), lit(":"), coalesce(col("addr.street"), lit("")))), "addr"),
    ("ssn_generic", col("ssn"), "id"),
    ("passport_generic", col("passport"), "id"),
    ("drlic_generic", col("drlic"), "id"),
    ("nid_generic", col("national_id"), "id"),
    ("name_generic", when(col("surname").isNotNull,
      concat(coalesce(get(split(col("given_can"), " "), lit(0)), lit("")),
        lit(":"), col("surname"))), "name"))

  /** One row per (row of `features`, family) with a non-null value:
    * `keep` columns plus `fam` (the flag name) and `v`.
    */
  private def familyValues(features: DataFrame, keep: Column*): DataFrame =
    features.select(keep :+ explode(array(valueCols.map {
      case (flagName, valueCol, _) =>
        struct(lit(flagName).as("fam"), valueCol.as("v"))
    }: _*)).as("fv"): _*)
      .filter(col("fv.v").isNotNull)
      .select(keep :+ col("fv.fam").as("fam") :+ col("fv.v").as("v"): _*)

  /** Compute the per-family hot-value frame `(fam, v)` — one exploded
    * scan of the feature table, map-side-combined aggregate, eagerly
    * materialized (the flag join reads it as its build side). Returns
    * the frame plus its observed row count (rides the materialization
    * job; no extra action).
    */
  def hotValues(features: DataFrame, cfg: Config = Config()): (DataFrame, Long) = {
    val thresholdOf = typedlit(valueCols.map { case (f, _, kind) =>
      f -> (kind match {
        case "addr"  => cfg.addrThreshold
        case "phone" => cfg.phoneThreshold
        case "name"  => cfg.nameThreshold
        case _       => cfg.threshold
      })
    }.toMap)
    val hot = Materialize(familyValues(features).groupBy("fam", "v").count()
      .filter(col("count") >= element_at(thresholdOf, col("fam")))
      .select("fam", "v"), "generic_hot", None)
    (hot.df, hot.rows)
  }

  /** Augment the feature table with boolean `*_generic` flags, appended
    * in [[valueCols]] order. One join against the hot frame for all
    * families: the exploded `(doc_id, fam, v)` rows are left-semi
    * joined to it, the hits are regrouped per doc_id as the list of
    * that doc's hot `(fam, v)` pairs, and that list is joined back. A
    * row's flag is whether ITS OWN `(fam, value)` is in the list, so the
    * flags stay exact when doc_id is not unique (rows sharing a doc_id
    * share one list, which holds each of their hot values). Rows with
    * a null doc_id get false flags: doc_id is a required key.
    *
    * The join-back is a shuffle join on doc_id: the regrouped frame
    * grows with the corpus, so it must not be broadcast; only the hot
    * frame is (under [[Config.maxBroadcastHot]]). No driver-side value
    * set ever exists (round-2 collected + inlined the hot sets as
    * literal isin predicates — linear driver growth and the janino
    * giant-In failure mode at corpus scale).
    */
  def withGenericFlags(features: DataFrame, cfg: Config = Config()): DataFrame = {
    val (hot, nHot) = hotValues(features, cfg)
    val build = if (nHot <= cfg.maxBroadcastHot) broadcast(hot) else hot
    val hits = familyValues(features, col("doc_id")).join(build, Seq("fam", "v"), "left_semi")
      .groupBy(col("doc_id").as("_g_doc"))
      .agg(collect_list(struct(col("fam"), col("v"))).as("_g_hot"))
    val joined = features.join(hits.hint("shuffle_hash"),
      features("doc_id") === hits("_g_doc"), "left")
    valueCols.foldLeft(joined) { case (df, (flagName, valueCol, _)) =>
      df.withColumn(flagName, coalesce(array_contains(col("_g_hot"),
        struct(lit(flagName).as("fam"), valueCol.as("v"))), lit(false)))
    }.drop("_g_doc", "_g_hot")
  }
}
