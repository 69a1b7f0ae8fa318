package graft

import graft.functions.GraftFunctions
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.DocCorpus
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * family (SURVEY.md §2 + the training-data operators), each with an
  * equivalent DuckDB oracle in [[SparkEntry.oracleSql]] where the
  * semantics are ANSI-SQL-expressible. Non-SQL-expressible operators
  * (custom hash kernels, LSH structures, the full ER pipeline) are
  * rows-only here and verified by the ScalaTest golden suite instead.
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full ER resolve (normalize → block → score → CC →
    * assemble) over a deterministic synthetic interleaved-doc corpus.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = DocCorpus.synthetic(spark, 200)
    graft.jobs.ResolveJob.run(spark, docs.toDF()).entities
  }

  // --- ER pipeline demo over the TPC-H-ish customer table -----------------
  // (doc = customer row; block = nation × segment; score = levenshtein)

  private def erBlocks(c: DataFrame): DataFrame =
    c.select(col("c_custkey").as("doc_id"),
      concat(lit("B:"), col("c_nationkey").cast("string"), lit(":"),
        col("c_mktsegment")).as("bkey"))

  private def erPairs(c: DataFrame): DataFrame = {
    val b = erBlocks(c)
    // spread the STREAM side (r6): the customer table arrives as one
    // small parquet file → a single scan task, and without an exchange
    // the whole block fan-out join + downstream levenshtein pipeline
    // fused into that one task (er_match_edges measured 5.3 s wall =
    // ~one core's worth of work while 31 cores idled). One shuffle of
    // the 15k-row block table buys full parallelism for the ~0.9M-pair
    // fan-out; the build side is pinned broadcast so the exchange
    // cannot land on the hash side instead. EXPLICIT partition count:
    // AQE sizes post-shuffle partitions from the shuffle's ~300 KB,
    // not the ×60 fan-out behind it, and coalesced this exchange back
    // to one partition — a user-numbered repartition is exempt.
    val l = b.repartition(b.sparkSession.sessionState.conf.numShufflePartitions,
      col("bkey")).select(col("bkey"), col("doc_id").as("doc_a"))
    val r = b.select(col("bkey"), col("doc_id").as("doc_b"))
    l.join(broadcast(r), Seq("bkey")).filter(col("doc_a") < col("doc_b"))
  }

  private def erScored(c: DataFrame): DataFrame = {
    val names = c.select(col("c_custkey"), col("c_name"))
    erPairs(c)
      .join(names.select(col("c_custkey").as("doc_a"), col("c_name").as("name_a")), "doc_a")
      .join(names.select(col("c_custkey").as("doc_b"), col("c_name").as("name_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("bkey"),
        levenshtein(col("name_a"), col("name_b")).as("lev"))
  }

  private def erEdges(c: DataFrame): DataFrame =
    erScored(c).select(col("doc_a"), col("doc_b"), col("lev"),
      when(col("lev") <= 2, "RESOLVED")
        .when(col("lev") <= 3, "POSSIBLY_SAME")
        .otherwise("NO_MATCH").as("level"))

  private def erClusters(spark: SparkSession, c: DataFrame): DataFrame = {
    import graft.cluster.ConnectedComponents, ConnectedComponents.padId
    val edges = erEdges(c).filter(col("level") === "RESOLVED")
      .select(padId(col("doc_a")).as("doc_a"), padId(col("doc_b")).as("doc_b"))
    // c_custkey is the key: distinct, and every edge endpoint is one
    val ids = c.select(padId(col("c_custkey")).as("doc_id"))
    val (assign, _) = ConnectedComponents.assign(spark, ids, edges)
    assign.select(col("doc_id").cast("long").as("doc_id"),
      col("entity_id").cast("long").as("entity_id"))
  }

  /** Recursive-CTE connected components over the same edges — shared by
    * the er_clusters / er_entity_assembly oracles.
    */
  private val ccOracleCte: String = """
    WITH RECURSIVE pairs AS (
      SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT c_custkey, c_custkey FROM customer
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), assign AS (
      SELECT u AS doc_id, min(v) AS entity_id FROM reach GROUP BY u
    )"""

  /** The synthetic embeddings table has no natural near-duplicates
    * (max off-diagonal cosine ≈ 0.51 at every sf), so the near-dup
    * query plants them: every vector is copied (vec_id + 10^6) with a
    * tiny index-dependent perturbation of exact thousandths —
    * double arithmetic on exact inputs, so the DuckDB oracle
    * reproduces the quantized cosines bit-exactly. Planted pairs land
    * ≈0.999 cosine; natural pairs stay below 0.52.
    */
  private def plantedEmbeddings(e: DataFrame): DataFrame = {
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    // Spark lambda index is 0-based, DuckDB's is 1-based → use i+1 here
    val perturbed = transform(col("embedding"), (x, i) =>
      x.cast("double") +
        (pmod(col("vec_id") * 31 + (i + lit(1)), lit(11)) - 5) / lit(1000.0))
    // NB: perturbation and id-shift in SEPARATE selects — in one select,
    // lateral-column-alias resolution rebinds the lambda's vec_id to the
    // shifted alias and the perturbation silently keys off the new id
    e.select(col("vec_id"), asDouble.as("embedding"))
      .unionAll(e.select(col("vec_id"), perturbed.as("embedding"))
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- P: projection / normalization (SURVEY §2.2) ---
    "er_normalize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "customer").select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "[^0-9]", "").as("name_digits"),
        upper(col("c_mktsegment")).as("segment_u"),
        soundex(col("c_mktsegment")).as("segment_soundex"))
    }),
    // --- J1: blocking key generation ---
    "er_blocking_keys" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erBlocks(t(dir, "customer"))
    }),
    // --- J1/J2: candidate equi-join within blocks ---
    "er_candidate_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erPairs(t(dir, "customer")).select("doc_a", "doc_b", "bkey")
    }),
    // --- §2.5: pairwise scoring kernel (levenshtein within block) ---
    "er_score_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erScored(t(dir, "customer")).select("doc_a", "doc_b", "lev")
    }),
    // --- threshold bands → match levels ---
    "er_match_edges" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erEdges(t(dir, "customer")).filter(col("level") =!= "NO_MATCH")
    }),
    // --- C3: transitive clustering (large-star/small-star CC) ---
    "er_clusters" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erClusters(s, t(dir, "customer"))
    }),
    // --- A2: entity assembly (group members, canonical id, roster) ---
    "er_entity_assembly" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      erClusters(s, t(dir, "customer"))
        .groupBy("entity_id")
        .agg(count(lit(1)).as("n_members"),
          array_join(sort_array(collect_list(col("doc_id").cast("string"))), ",")
            .as("members"))
    }),
    // --- A1: conditional status tallies in one pass ---
    "er_status_tallies" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "orders").agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
        count(lit(1)).as("n_total"))
    }),
    // --- C4: affected-entity snapshot diff (full-outer join + filter) ---
    "er_delta_affected" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      def latest(df: DataFrame): DataFrame = {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"))
      }
      val mid = 500 // snapshot boundary: first 500 events = snapshot N-1
      val prev = latest(ev.filter(col("event_id") < mid))
        .withColumnRenamed("event_type", "prev_type")
      val curr = latest(ev).withColumnRenamed("event_type", "curr_type")
      prev.join(curr, Seq("user_id"), "full_outer")
        .filter(col("prev_type").isNull || col("curr_type").isNull ||
          col("prev_type") =!= col("curr_type"))
        .select("user_id")
    }),
    // --- O3: set ops ---
    "q_setops" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "customer").select(col("c_custkey"))
        .except(t(dir, "orders").select(col("o_custkey").as("c_custkey")))
    }),
    // --- J: semi/anti joins ---
    "q_semi_anti" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val c = t(dir, "customer"); val o = t(dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("k"), col("n"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("k"), col("n"))
      semi.unionAll(anti)
    }),
    // --- A: aggregation + broadcast join + top-k ---
    "q_join_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val top = t(dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("first_order"))
        .orderBy(col("n_orders").desc, col("o_custkey").asc)
        .limit(10)
      top.join(broadcast(t(dir, "customer")),
          top("o_custkey") === col("c_custkey"), "left")
        .select(col("o_custkey"), col("n_orders"), col("first_order"),
          col("c_mktsegment"))
    }),
    // --- O4: window functions ---
    "q_window" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type", "prev_type")
    }),
    // --- streaming-equivalent batch: tumbling-window sessionization ---
    "q_sessionize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      t(dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),
    // --- training-data ops: documents / embeddings ---
    "dd_exact" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.exact(t(dir, "documents"))
    }),
    "dd_ngram_jaccard" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.ngramJaccard(t(dir, "documents"), n = 1, threshold = 0.5)
    }),
    // near-dup GROUPS: exact pairs -> transitive closure -> canonical
    // per group; full composition oracle-checked (recursive CTE)
    "dd_dedup_groups" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.nearDupGroups(s, t(dir, "documents"), n = 1, threshold = 0.5)
    }),
    "dd_simhash" -> ((s, dir) => { // custom kernel — rows-only
      implicit val sp: SparkSession = s
      Dedup.simhash(t(dir, "documents"))
    }),
    "dd_simhash_verify" -> ((s, dir) => { // md5-vote twin — oracle-checkable
      implicit val sp: SparkSession = s
      Dedup.simhashVerify(t(dir, "documents"))
    }),
    "dd_minhash_pairs" -> ((s, dir) => { // custom kernel — rows-only
      implicit val sp: SparkSession = s
      Dedup.minhashNearDupPairs(t(dir, "documents"), threshold = 0.5)
    }),
    // Oracle-checkable banding twin: md5 minhash, every step ANSI-SQL —
    // DuckDB reproduces banding AND verify exactly (the kernel variant
    // stays the scale path; this one pins the semantics). Deterministic
    // doc subset bounds its cost at larger sf.
    "dd_minhash_verify" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.minhashNearDupPairsPortable(
        t(dir, "documents").filter(col("doc_id") < 1000),
        bands = 2, rows = 8, threshold = 0.9)
    }),
    "dd_simhash_pairs" -> ((s, dir) => { // custom kernel — rows-only
      implicit val sp: SparkSession = s
      // maxHamming = 3 → 4 slices: recall GUARANTEED ≤ 3 flips
      // (round 2 filtered at 8 over 4 slices — silent recall hole)
      Dedup.simhashNearDupPairs(t(dir, "documents"), maxHamming = 3)
    }),
    // Oracle-checkable twin of the full PAIRS path: md5-vote
    // fingerprints → 4 nibble-aligned slices → exact hamming verify,
    // all ANSI-SQL — pins banding AND verify cross-engine (the kernel
    // variant above stays the scale path). Deterministic doc subset
    // bounds its cost at larger sf — the explode-heavy md5-vote
    // fingerprint (tokens × 16 nibbles × 4 bit-weights) is the twin's
    // portability price, not the scale path, so it need not pay it
    // over the full table (same bound as dd_minhash_verify).
    "dd_simhash_pairs_verify" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Dedup.simhashPairsVerify(
        t(dir, "documents").filter(col("doc_id") < 1000), maxHamming = 3)
    }),
    // salt-only bounds: this query is HASH-EXACT vs a full-join DuckDB
    // oracle, so mega-bucket down-sampling (fine for the operator's
    // default scale path) must be off here — a boilerplate bucket at a
    // bigger sf would otherwise silently break parity
    "dd_embed_near" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // the planted frame is materialized once (r6): the operator reads
      // its input 3× (bucketing pass + both sides of the cosine verify)
      // and the planting transform is an interpreted HOF union — lazy,
      // it re-ran on every read. A plain parquet-backed input would
      // just be re-scanned (cheaper than copying at scale); this input
      // is COMPUTED, so one materialization beats three evaluations.
      Dedup.embeddingNearDupPairs(
        Materialize(plantedEmbeddings(t(dir, "embeddings")), "planted_embeddings", None).df,
        tables = 6, planes = 8, threshold = 0.95, quantized = true,
        bounds = Dedup.BlockBounds(megaCap = Int.MaxValue))
    }),
    "ann_cosine_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Similarity.bruteForceTopK(t(dir, "embeddings"),
        probeIds = 0L until 10L, k = 5, quantized = true)
    }),
    "ann_lsh_topk" -> ((s, dir) => { // approximate variant — rows-only
      implicit val sp: SparkSession = s
      Similarity.lshTopK(t(dir, "embeddings"), probeIds = 0L until 10L, k = 5)
    }),
    // IVF coarse-quantizer variant (rows-only like the LSH path;
    // recall@5 >= 0.9 gated vs brute force in OpsSpec)
    "ann_ivf_topk" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Similarity.ivfTopK(t(dir, "embeddings"), probeIds = 0L until 10L, k = 5)
    }),
    "ta_langid" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextAnalysis.langId(t(dir, "documents")).select("doc_id", "lang", "lang_pred")
    }),
    "ta_quality" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextAnalysis.quality(t(dir, "documents"))
    }),
    "ta_tokens" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextAnalysis.tokenCounts(t(dir, "documents"))
    }),
    "ta_fingerprint" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TextAnalysis.fingerprint(t(dir, "documents")).select("doc_id", "md5_fingerprint")
    }),
    "ta_winnow" -> ((s, dir) => { // custom rolling-hash kernel — rows-only
      implicit val sp: SparkSession = s
      TextAnalysis.fingerprint(t(dir, "documents")).select("doc_id", "winnow_fingerprint")
    }),
    "ta_winnow_verify" -> ((s, dir) => { // md5-window twin — oracle-checkable
      implicit val sp: SparkSession = s
      TextAnalysis.winnowVerify(t(dir, "documents"))
    }),
    "mm_media_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.mediaMetaColumns(Multimodal.withSyntheticMedia(t(dir, "documents")))
    }),
    // real container decode (16-byte md5 header ‖ UTF-8 payload):
    // header verified against a recomputed payload checksum, payload
    // decoded — oracle-checked end-to-end (md5/octet_length portable)
    "mm_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.decode(s, Multimodal.withSyntheticMedia(t(dir, "documents"))).toDF()
    }))

  def oracleSql: Map[String, String] = Map(
    "er_normalize" ->
      """SELECT c_custkey,
           regexp_replace(c_name, '[^0-9]', '', 'g') AS name_digits,
           upper(c_mktsegment) AS segment_u,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A351'
                WHEN c_mktsegment = 'BUILDING'   THEN 'B435'
                WHEN c_mktsegment = 'FURNITURE'  THEN 'F653'
                WHEN c_mktsegment = 'HOUSEHOLD'  THEN 'H243'
                WHEN c_mktsegment = 'MACHINERY'  THEN 'M256'
                ELSE NULL END AS segment_soundex
         FROM customer""",
    "er_blocking_keys" ->
      """SELECT c_custkey AS doc_id,
           'B:' || c_nationkey::VARCHAR || ':' || c_mktsegment AS bkey
         FROM customer""",
    "er_candidate_pairs" ->
      """SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
           'B:' || a.c_nationkey::VARCHAR || ':' || a.c_mktsegment AS bkey
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey""",
    "er_score_pairs" ->
      """SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
           levenshtein(a.c_name, b.c_name) AS lev
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey""",
    "er_match_edges" ->
      """SELECT doc_a, doc_b, lev,
           CASE WHEN lev <= 2 THEN 'RESOLVED' ELSE 'POSSIBLY_SAME' END AS level
         FROM (
           SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b,
             levenshtein(a.c_name, b.c_name) AS lev
           FROM customer a JOIN customer b
             ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
            AND a.c_custkey < b.c_custkey)
         WHERE lev <= 3""",
    "er_clusters" -> (ccOracleCte + " SELECT doc_id, entity_id FROM assign"),
    "er_entity_assembly" -> (ccOracleCte + """
         SELECT entity_id, count(*) AS n_members,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id::VARCHAR) AS members
         FROM assign GROUP BY entity_id"""),
    "er_status_tallies" ->
      """SELECT count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
           count(*) AS n_total
         FROM orders""",
    "er_delta_affected" ->
      """WITH latest_prev AS (
           SELECT user_id, event_type AS prev_type FROM (
             SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events WHERE event_id < 500) WHERE rn = 1
         ), latest_curr AS (
           SELECT user_id, event_type AS curr_type FROM (
             SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             FROM events) WHERE rn = 1
         )
         SELECT COALESCE(p.user_id, c.user_id) AS user_id
         FROM latest_prev p FULL OUTER JOIN latest_curr c ON p.user_id = c.user_id
         WHERE p.prev_type IS NULL OR c.curr_type IS NULL OR p.prev_type <> c.curr_type""",
    "q_setops" ->
      """SELECT c_custkey FROM customer
         EXCEPT SELECT o_custkey AS c_custkey FROM orders""",
    "q_semi_anti" ->
      """SELECT 'with_orders' AS k, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT 'without_orders' AS k, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_join_topk" ->
      """WITH top AS (
           SELECT o_custkey, count(*) AS n_orders, min(o_orderkey) AS first_order
           FROM orders GROUP BY o_custkey
           ORDER BY n_orders DESC, o_custkey ASC LIMIT 10)
         SELECT o_custkey, n_orders, first_order, c_mktsegment
         FROM top LEFT JOIN customer ON o_custkey = c_custkey""",
    "q_window" ->
      """SELECT user_id, rn, event_id, event_type, prev_type FROM (
           SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events)
         WHERE rn <= 3""",
    "q_sessionize" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1, 2""",
    "dd_exact" ->
      """WITH hashed AS (
           SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
           FROM documents
         ), canon AS (
           SELECT content_hash, min(doc_id) AS canonical_doc_id, count(*) AS group_size
           FROM hashed GROUP BY content_hash
         )
         SELECT h.doc_id, h.content_hash, c.canonical_doc_id, c.group_size,
           h.doc_id = c.canonical_doc_id AS is_canonical
         FROM hashed h JOIN canon c USING (content_hash)""",
    "dd_dedup_groups" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS INT) AS len_bucket,
             list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
               AS shingles
           FROM documents
         ), prs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM d a JOIN d b
             ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
         ), e AS (
           SELECT doc_a AS u, doc_b AS v FROM prs
           UNION SELECT doc_b, doc_a FROM prs
           UNION SELECT doc_id, doc_id FROM documents
         ), reach AS (
           SELECT u, v FROM e
           UNION
           SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
         ), assign AS (
           SELECT u AS doc_id, min(v) AS group_id FROM reach GROUP BY u
         ), sizes AS (
           SELECT group_id, count(*) AS group_size FROM assign GROUP BY group_id
         )
         SELECT a.doc_id, a.group_id, s.group_size,
           a.doc_id = a.group_id AS is_canonical
         FROM assign a JOIN sizes s USING (group_id)""",
    "dd_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS INT) AS len_bucket,
             list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
               AS shingles
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
             len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5""",
    "dd_minhash_verify" ->
      """WITH d AS (
           SELECT doc_id,
             list_distinct(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x <> '')) AS sh
           FROM documents WHERE doc_id < 1000
         ), tok AS (
           SELECT doc_id, unnest(sh) AS t FROM d
         ), hashed AS (
           SELECT doc_id, s.seed, md5(s.seed::VARCHAR || ':' || t) AS h
           FROM tok CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) s
         ), minh AS (
           SELECT doc_id, seed, min(h) AS mh FROM hashed GROUP BY doc_id, seed
         ), banded AS (
           SELECT doc_id,
             (seed // 8)::VARCHAR || ':' || string_agg(mh, '|' ORDER BY seed) AS band
           FROM minh GROUP BY doc_id, (seed // 8)
         ), cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
         )
         SELECT doc_a, doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM cand JOIN d a ON a.doc_id = doc_a JOIN d b ON b.doc_id = doc_b
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9""",
    "dd_simhash_verify" ->
      """WITH toks AS (
           SELECT doc_id, t, count(*) AS cnt FROM (
             SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 x -> x <> '')) AS t
             FROM documents)
           GROUP BY doc_id, t
         ), h AS (
           SELECT doc_id, cnt, substr(md5(t), 1, 16) AS h FROM toks
         ), bits AS (
           SELECT doc_id, cnt, g.ci,
             strpos('0123456789abcdef', substr(h, CAST(g.ci AS INT), 1)) - 1 AS v,
             wt.w
           FROM h
           CROSS JOIN generate_series(1, 16) AS g(ci)
           CROSS JOIN (VALUES (8),(4),(2),(1)) AS wt(w)
         ), votes AS (
           SELECT doc_id, ci, w,
             sum(cnt * ((CAST(floor(v / w) AS INT) % 2) * 2 - 1)) AS s
           FROM bits GROUP BY doc_id, ci, w
         ), nibbles AS (
           SELECT doc_id, ci,
             sum(CASE WHEN s > 0 THEN 1 ELSE 0 END * w) AS nv
           FROM votes GROUP BY doc_id, ci
         ), fp AS (
           SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1), ''
               ORDER BY ci) AS simhash_hex
           FROM nibbles GROUP BY doc_id)
         SELECT d.doc_id, fp.simhash_hex
         FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id""",
    "dd_simhash_pairs_verify" ->
      """WITH toks AS (
           SELECT doc_id, t, count(*) AS cnt FROM (
             SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 x -> x <> '')) AS t
             FROM documents WHERE doc_id < 1000)
           GROUP BY doc_id, t
         ), h AS (
           SELECT doc_id, cnt, substr(md5(t), 1, 16) AS h FROM toks
         ), bits AS (
           SELECT doc_id, cnt, g.ci,
             strpos('0123456789abcdef', substr(h, CAST(g.ci AS INT), 1)) - 1 AS v,
             wt.w
           FROM h
           CROSS JOIN generate_series(1, 16) AS g(ci)
           CROSS JOIN (VALUES (8),(4),(2),(1)) AS wt(w)
         ), votes AS (
           SELECT doc_id, ci, w,
             sum(cnt * ((CAST(floor(v / w) AS INT) % 2) * 2 - 1)) AS s
           FROM bits GROUP BY doc_id, ci, w
         ), nibv AS (
           SELECT doc_id, ci,
             sum(CASE WHEN s > 0 THEN 1 ELSE 0 END * w) AS nv
           FROM votes GROUP BY doc_id, ci
         ), sl AS (
           SELECT doc_id, (ci - 1) // 4 AS slice_i,
             string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1), ''
               ORDER BY ci) AS slice_v
           FROM nibv GROUP BY doc_id, (ci - 1) // 4
         ), cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sl a JOIN sl b
             ON a.slice_i = b.slice_i AND a.slice_v = b.slice_v
               AND a.doc_id < b.doc_id
         ), ham AS (
           SELECT c.doc_a, c.doc_b,
             CAST(sum(bit_count(xor(CAST(na.nv AS INT), CAST(nb.nv AS INT)))) AS BIGINT)
               AS hamming
           FROM cand c
           JOIN nibv na ON na.doc_id = c.doc_a
           JOIN nibv nb ON nb.doc_id = c.doc_b AND nb.ci = na.ci
           GROUP BY c.doc_a, c.doc_b)
         SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""",
    "dd_embed_near" ->
      """WITH base AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
             list_transform(embedding, (x, i) ->
               CAST(x AS DOUBLE) + (((vec_id*31 + i) % 11) - 5)/1000.0)
           FROM embeddings
         ), q AS (
           SELECT vec_id, list_transform(v, x -> CAST(round(x*1000) AS BIGINT)) AS qv
           FROM base
         ), p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) /
               (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE)) *
                sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))) AS cosine
           FROM q a JOIN q b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95""",
    "ann_cosine_topk" ->
      """WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
           FROM embeddings
         ), p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         scored AS (
           SELECT p.probe_id, e.vec_id AS neighbor_id,
             CAST(list_dot_product(p.pv, e.v) AS DOUBLE) /
               (sqrt(CAST(list_dot_product(p.pv, p.pv) AS DOUBLE)) *
                sqrt(CAST(list_dot_product(e.v, e.v) AS DOUBLE))) AS cosine
           FROM p JOIN e ON e.vec_id <> p.probe_id
         )
         SELECT probe_id, rank, neighbor_id, cosine FROM (
           SELECT probe_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rank
           FROM scored)
         WHERE rank <= 5""",
    "ta_langid" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
           FROM documents
         ), hits AS (
           SELECT doc_id, lang,
             len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS h_de,
             len(list_filter(w, x -> x IN ('the','and','of','to','is'))) AS h_en,
             len(list_filter(w, x -> x IN ('el','la','de','que','los'))) AS h_es,
             len(list_filter(w, x -> x IN ('le','la','les','des','est'))) AS h_fr,
             len(list_filter(w, x -> x IN ('的','是','在','了','我'))) AS h_zh
           FROM toks)
         SELECT doc_id, lang,
           -- coalesce: NULL text yields NULL hit counts; Spark's
           -- when(hits > 0).otherwise('und') emits 'und' there, and a
           -- bare CASE would fall through every NULL WHEN to ELSE 'zh'
           CASE WHEN coalesce(greatest(h_de, h_en, h_es, h_fr, h_zh), 0) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                WHEN h_fr >= h_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM hits""",
    "ta_quality" ->
      """WITH q AS (
           SELECT doc_id, length(text) AS n_chars_q,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''))
               AS n_words,
             length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               x -> x IN ('and','das','de','der','des','die','el','est','is','ist','la','le',
                          'les','los','of','que','the','to','und','了','我','是','在','的')))
               AS stop_hits
           FROM documents)
         SELECT doc_id, n_chars_q, n_words,
           CAST(n_chars_q AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
           CAST(n_punct AS DOUBLE) / greatest(n_chars_q, 1) AS punct_ratio,
           CAST(n_digit AS DOUBLE) / greatest(n_chars_q, 1) AS digit_ratio,
           CAST(stop_hits AS DOUBLE) / greatest(n_words, 1) AS stopword_ratio
         FROM q""",
    "ta_tokens" ->
      """SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
         FROM documents""",
    "ta_fingerprint" ->
      """SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS md5_fingerprint
         FROM documents""",
    "ta_winnow_verify" ->
      """WITH n AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id,
           CASE WHEN length(norm) >= 16 THEN
             list_min(list_transform(range(1, length(norm) - 14),
               i -> md5(substr(norm, CAST(i AS INT), 16))))
           ELSE NULL END AS winnow_md5
         FROM n""",
    "mm_media_meta" ->
      """SELECT doc_id,
           16 + octet_length(encode(text)) AS media_bytes,
           upper(substr(md5(text), 1, 8)) AS header_hex
         FROM documents""",
    // the container is md5(payload) ‖ payload, so a correct decode
    // returns exactly these values — any header/payload/charset slip
    // on the Spark side breaks the hash compare
    "mm_decode" ->
      """SELECT doc_id,
           16 + octet_length(encode(text)) AS media_bytes,
           octet_length(encode(text)) AS payload_bytes,
           CAST(1 AS INT) AS header_ok,
           md5(text) AS payload_md5,
           text AS decoded_text
         FROM documents""")
}
