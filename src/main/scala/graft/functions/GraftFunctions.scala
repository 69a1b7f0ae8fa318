package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}

/** Public Column API over the custom Catalyst expressions.
  * Expressions are bridged Column↔Expression via the classic-session
  * converters, so no per-session registration is needed.
  */
object GraftFunctions {

  def rolling_min_hash(s: Column, window: Column): Column =
    GraftSqlBridge.column(RollingMinHash(GraftSqlBridge.expression(s), GraftSqlBridge.expression(window)))

  def simhash64(s: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(s)))

  def given_name_sim(l: Column, r: Column): Column =
    GraftSqlBridge.column(GivenNameSim(GraftSqlBridge.expression(l), GraftSqlBridge.expression(r)))

  def surname_sim(l: Column, r: Column): Column =
    GraftSqlBridge.column(SurnameSim(GraftSqlBridge.expression(l), GraftSqlBridge.expression(r)))

  /** LSH band keys over a string's character shingles: `bands` keys,
    * each collapsing `rowsPerBand` consecutive minhashes. Two strings
    * share a band key iff that band's minhashes all agree — the
    * standard MinHash-LSH banding construction for Jaccard-similar
    * blocking. One codegen'd kernel (composing ~bands×rows Catalyst
    * aggregates blows janino's 64 KB method limit).
    */
  def minhash_band_keys(s: Column, shingle: Int, bands: Int, rowsPerBand: Int): Column =
    GraftSqlBridge.column(
      MinHashBands(GraftSqlBridge.expression(s), shingle, bands, rowsPerBand))

  /** First span text of `kind` from a span array (codegen'd scan). */
  def span_first_text(spans: Column, kind: String): Column =
    GraftSqlBridge.column(SpanFirstText(GraftSqlBridge.expression(spans), kind))

  /** One-pass normalized address parse (codegen'd kernel). */
  def parse_addr(raw: Column, stop: Seq[String]): Column =
    GraftSqlBridge.column(ParseAddr(GraftSqlBridge.expression(raw), stop))

  /** DOB parse into struct(y,m,d) (codegen'd kernel). */
  def parse_dob(raw: Column): Column =
    GraftSqlBridge.column(ParseDob(GraftSqlBridge.expression(raw)))

  /** Tokenwise dictionary canonicalization (codegen'd kernel). */
  def canon_tokens(c: Column, dict: Map[String, String]): Column =
    GraftSqlBridge.column(CanonTokens(GraftSqlBridge.expression(c), dict))

  /** All LSH tables' hyperplane sign-buckets in one kernel pass. */
  def hyperplane_buckets(embedding: Column, tables: Int, planes: Int): Column =
    GraftSqlBridge.column(
      HyperplaneBuckets(GraftSqlBridge.expression(embedding), tables, planes))

  /** Integer-quantized cosine (oracle-parity arithmetic). */
  def cosine_quantized(a: Column, b: Column, scale: Int = 1000): Column =
    GraftSqlBridge.column(
      CosineQuantized(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b), scale))

  /** Plain double cosine over embedding arrays. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      CosineSim(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
