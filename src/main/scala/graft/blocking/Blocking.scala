package graft.blocking

import graft.functions.GraftFunctions
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate generation: deterministic blocking keys + MinHash-LSH
  * fuzzy-name bands, with explicit hot-key handling.
  *
  * The reference delegates candidate generation to Senzing ⬛; the
  * observable contract is that every merged pair in
  * /root/reference/test/fixtures/flow-output.jsonl shares at least one
  * of: phone, email, SSN, passport, driver's license, national id,
  * house+street, or surname-soundex+birth-year. Those are exactly the
  * deterministic keys below.
  *
  * Scale design (SURVEY.md §7.4 #1): blocking keys are Zipfian. Three
  * tiers, detected with one cheap aggregate whose head is materialized,
  * are a policy over ONE salted self-join (Dedup.boundedSelfJoinPairs):
  *
  *  - cold  (size ≤ maxBlockSize): one salt bucket, a plain self-join.
  *  - hot   (maxBlockSize < size ≤ megaCap): ALL pairs are still
  *    emitted — the self-join is salted one-sided (left side hashed
  *    into `salts` buckets, right side replicated to every bucket) so
  *    a hot key's quadratic work is spread over `salts` tasks instead
  *    of one straggler. No recall loss.
  *  - mega  (size > megaCap): a key shared by that many docs carries
  *    ~no resolution signal (it is a generic value, not a match
  *    hypothesis); membership is down-sampled DETERMINISTICALLY
  *    (hash-mod on doc_id) to ~megaCap docs before the salted join,
  *    bounding pairs at ~megaCap²/2 per key. This replaces round-1's
  *    silent full drop: pairs among retained members survive, and the
  *    cap is a documented, surfaced policy rather than a recall hole.
  */
object Blocking {

  final case class Config(
      maxBlockSize: Int = 64,
      megaCap: Int = 128,
      salts: Int = 16,
      /** Durable tier checkpoints for the candidate self-join — see
        * Dedup.BlockBounds.checkpointDir (executor-loss survival).
        */
      checkpointDir: Option[String] = None)

  /** LSH banding: P(candidate) = 1-(1-J^rows)^bands — rows=6 keeps the
    * low-similarity mass out (J=0.2 pairs: ~4e-4) while J≥0.8 name
    * pairs still collide with p≈0.85.
    */
  private val LshBands = 6
  private val LshRows = 6

  /** (doc_id, bkey) pairs, exploded and de-duplicated. */
  def blockingKeys(features: DataFrame, cfg: Config = Config()): DataFrame = {
    val nameForLsh = lower(concat_ws(" ", col("surname"), col("given_can")))
    val detKeys = array(
      concat(lit("P:"), col("phone7")),
      concat(lit("E:"), col("email")),
      concat(lit("S:"), col("ssn")),
      concat(lit("PP:"), col("passport")),
      concat(lit("DL:"), col("drlic")),
      concat(lit("NID:"), col("national_id")),
      // address: house number × first two street tokens
      concat(lit("A:"), col("addr.house"), lit(":"), get(col("addr.stokens"), lit(0))),
      concat(lit("A:"), col("addr.house"), lit(":"), get(col("addr.stokens"), lit(1))),
      // surname-phonetic × (year, month) and × (year, day) in ONE key
      // namespace (so month/day-swapped DOBs still collide). Keys carry a dob component because bare
      // soundex×year blocks are Zipf-headed (given-name phonetics
      // especially — ~10^1 distinct codes cover most of a population);
      // swapped first/last fields are covered by the LSH bands, which
      // are order-free over the name's character shingles.
      concat(lit("ND:"), soundex(get(split(col("surname"), " "), lit(0))), lit(":"),
        col("dob.y").cast("string"), lit(":"), col("dob.m").cast("string")),
      concat(lit("ND:"), soundex(get(split(col("surname"), " "), lit(0))), lit(":"),
        col("dob.y").cast("string"), lit(":"), col("dob.d").cast("string")))
    val allKeys = concat(detKeys,
      when(length(nameForLsh) >= 4,
        transform(
          GraftFunctions.minhash_band_keys(nameForLsh, 3, LshBands, LshRows),
          b => concat(lit("L:"), b.cast("string"))))
        .otherwise(array().cast("array<string>")))
    features
      .select(col("doc_id"), explode(allKeys).as("bkey"))
      .filter(col("bkey").isNotNull)
      .distinct()
  }

  /** Blocks with mega keys (size > cfg.megaCap) deterministically
    * down-sampled by the one rule in graft.ops.Dedup (megaKeepMod /
    * megaKeeps); hot-but-not-mega keys keep every member. The engine
    * does not call it: [[candidatePairs]] applies the same rule inside
    * its self-join. It is kept for erbench's traced incremental
    * composition (erbench/src/main/scala/erbench/IncrementalIngest.scala)
    * and BlockingSpec. The mega keys are the Zipf head, small by
    * construction, hence the broadcast.
    */
  def cappedBlocks(blocks: DataFrame, cfg: Config = Config()): DataFrame = {
    val mega = blocks.groupBy("bkey").count()
      .select(col("bkey"), Dedup.megaKeepMod(col("count"), bounds(cfg)).as("keep_mod"))
      .filter(col("keep_mod").isNotNull)
    blocks.join(broadcast(mega), Seq("bkey"), "left")
      .filter(Dedup.megaKeeps(col("doc_id"), col("keep_mod")))
      .drop("keep_mod")
  }

  /** Candidate pairs: self-equi-join of the block table on bkey with
    * doc_a < doc_b (each unordered pair exactly once), salted per tier
    * (object doc). Returns (doc_a, doc_b) distinct; with `touched`
    * (distinct doc_ids), only the pairs with an endpoint in it. The block
    * table is then restricted to the KEYS that have a touched member,
    * never to rows: each surviving key keeps its corpus-wide size, so the
    * tier and down-sampling decisions, and hence the pairs, are exactly
    * the unrestricted self-join's.
    */
  def candidatePairs(blocks0: DataFrame, cfg: Config = Config(),
      touched: Option[DataFrame] = None): DataFrame = {
    // the self-join + distinct move every block row twice; hash the key
    // strings (LSH bands, soundex×dob composites) to 64-bit longs first
    // so the shuffles carry 8 bytes, not ~20-40-char strings. A hash
    // collision merges two blocks — it can only ADD candidate pairs
    // (scoring rejects them), never lose one, and pairs sharing a real
    // key still share the hashed key.
    // NULL bkeys are dropped BEFORE hashing: xxhash64 maps NULL input
    // to the seed (42), not NULL, so without this filter every
    // null-keyed row would collapse into one shared synthetic block
    // (and the shared join's null-key drop would never see a null).
    // The ER caller already filters nulls in blockingKeys — this makes
    // the contract (nulls never match, as in a plain equi-join)
    // independent of the caller.
    val blocks = blocks0.filter(col("bkey").isNotNull)
      .select(xxhash64(col("bkey")).as("bkey"), col("doc_id"))
    val ids = touched.map(_.select("doc_id"))
    val keyed = ids.fold(blocks)(t => blocks.join(
      blocks.join(t, Seq("doc_id"), "left_semi").select("bkey"), Seq("bkey"), "left_semi"))
    // ONE implementation of the three-tier discipline, shared with the
    // dedup/ANN candidate joins; it also logs mega-key down-sampling
    // (never silent).
    val pairs = Dedup.boundedSelfJoinPairs(keyed, Seq("bkey"), "doc_id", bounds(cfg))
    ids.fold(pairs) { t =>
      def mark(end: String) = t.select(col("doc_id").as(end), lit(true).as(s"t_$end"))
      pairs.join(mark("doc_a"), Seq("doc_a"), "left").join(mark("doc_b"), Seq("doc_b"), "left")
        .filter(col("t_doc_a").isNotNull || col("t_doc_b").isNotNull)
        .select("doc_a", "doc_b")
    }
  }

  private def bounds(cfg: Config): Dedup.BlockBounds =
    Dedup.BlockBounds(cfg.maxBlockSize, cfg.megaCap, cfg.salts, cfg.checkpointDir)
}
