package graft.ops

import graft.functions.GraftFunctions
import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines,
  * over a `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * Scale notes: every variant is a groupBy/join on a compact derived
  * key (hash, band, bucket) — no all-pairs stage ever materializes
  * outside a BOUNDED block: every candidate self-join goes through
  * [[Dedup.boundedSelfJoinPairs]], which applies graft.blocking.Blocking's
  * three-tier policy in ONE salted self-join (cold keys get one salt
  * bucket; hot keys `salts`, one-sided, so a hot block's quadratic work
  * spreads over `salts` tasks with NO pair loss; mega keys — the 10M-doc
  * boilerplate cluster sharing one band, exactly what 100 TB dedup
  * exists to find — are deterministically down-sampled to ~megaCap
  * members and the decision is logged). Keys are computed in
  * whole-stage codegen; only ids move through candidate shuffles.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Tier bounds for candidate self-joins. `megaCap` defaults high
    * enough that ordinary corpora never lose a pair; it exists so one
    * degenerate block cannot go quadratic (cap the pair count at
    * ~megaCap²/2 per key). Down-sampling is hash-mod on the id —
    * deterministic across runs and parallelism levels.
    *
    * `checkpointDir`: when set, the tier frames are materialized as
    * parquet snapshots under it (graft.util.Materialize) instead of
    * `localCheckpoint` — localCheckpoint blocks live in non-replicated
    * executor storage, so on a real cluster a lost executor kills a
    * long dedup job; store-backed tiers survive (mirrors
    * ConnectedComponents' `checkpointDir`). Same outputs either way
    * (OpsSpec-pinned).
    */
  final case class BlockBounds(maxBlockSize: Int = 64, megaCap: Int = 4096,
      salts: Int = 8, checkpointDir: Option[String] = None)

  /** The one mega-key down-sampling rule. A key whose member `count`
    * exceeds both bounds gets keep_mod = ⌈count / megaCap⌉ and keeps
    * ~megaCap members; every other key gets null and keeps them all.
    */
  private[graft] def megaKeepMod(count: Column, bounds: BlockBounds): Column =
    when(count > bounds.maxBlockSize && count > bounds.megaCap,
      ceil(count.cast("double") / bounds.megaCap).cast("long"))

  /** Whether member `id` of a key with [[megaKeepMod]] `keepMod`
    * survives: pmod(xxhash64(id), keepMod) = 0, deterministic across
    * runs and parallelism levels.
    */
  private[graft] def megaKeeps(id: Column, keepMod: Column): Column =
    keepMod.isNull || pmod(xxhash64(id), keepMod) === 0

  /** Self-join `keyed` on `keyCols`, emitting distinct id pairs
    * (a < b) in one salted self-join with the three-tier policy (object
    * doc). `keyed` must have one row per (key, id); ids only —
    * callers re-join payloads (texts, shingles, vectors) AFTER the
    * pair set is deduplicated.
    */
  def boundedSelfJoinPairs(
      keyed: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    // NULL keys never join in a plain equi-join (and never match in a
    // SQL oracle) — but struct equality treats NULL FIELDS as equal,
    // so they must be dropped explicitly or null-keyed rows would
    // silently block together. Checkpointed: the scans below read this
    // frame 3× (hot aggregate, both join sides), and callers
    // pass expensive upstreams (minhash kernels, prefix sorts) that
    // must not be recomputed per scan.
    val k = Materialize(keyed
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(struct(keyCols.map(col): _*).as("_k"), col(idCol).as("_id")),
      "bsj_keyed", bounds.checkpointDir).df

    // Hot-key head. Materialized eagerly so the mega down-sampling
    // decision can be surfaced (never silent) and the frame is built
    // once, not once per consuming join. NO broadcast hint: for ER
    // blocking keys the head is a tiny Zipf head, but for prefix
    // tokens over a common-vocabulary corpus it can be large — both
    // sides are checkpointed, so AQE picks the join strategy from
    // exact sizes (broadcast when small, shuffle join when not).
    // the mega-block tally rides the checkpoint materialization as an
    // observed metric (one job, not a checkpoint job + a second
    // aggregate action) — this function runs once per candidate family
    // and per-invocation driver-serial jobs are the scaling tax the
    // one-box efficiency measurements keep naming.
    val hot0 = Materialize(
      k.groupBy("_k").count().filter(col("count") > bounds.maxBlockSize)
        .withColumn("keep_mod", megaKeepMod(col("count"), bounds)),
      "bsj_hot", bounds.checkpointDir,
      "mega" -> count(when(col("keep_mod").isNotNull, 1)),
      "members" -> coalesce(sum(when(col("keep_mod").isNotNull, col("count"))), lit(0L)))
    val megaN = hot0.extras("mega")
    if (megaN > 0)
      log.warn(s"boundedSelfJoinPairs: $megaN mega block(s) " +
        s"totalling ${hot0.extras("members")} members down-sampled to ~${bounds.megaCap} " +
        "members each (deterministic hash-mod)")

    // ONE self-join on (key, salt): a member lands in one of its key's
    // `_n` salt buckets on the left and in all of them on the right, so
    // each pair appears once; cold keys have one bucket, hot `salts`.
    val rows = k.join(hot0.df, Seq("_k"), "left")
      .filter(megaKeeps(col("_id"), col("keep_mod")))
      .select(col("_k"), col("_id"),
        when(col("count").isNull, 1L).otherwise(bounds.salts.toLong).as("_n"))
    // salt hash MUST be independent of the mega-sampling hash above
    // (xxhash64(_id) mod keep_mod == 0): with the same hash, the
    // retained members of a down-sampled block all collapse into
    // salts/gcd(keep_mod, salts) buckets — one straggler task doing
    // ~megaCap²/2 pairs for exactly the blocks salting exists to
    // spread. The extra lit(1) column changes the hash stream.
    val l = rows.select(col("_k"), pmod(xxhash64(col("_id"), lit(1)), col("_n")).as("_salt"),
      col("_id").as("doc_a"))
    val r = rows.select(col("_k"), explode(sequence(lit(0L), col("_n") - 1)).as("_salt"),
      col("_id").as("doc_b"))
    l.join(r, Seq("_k", "_salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Exact dedup by content hash (after whitespace/case normalization):
    * each doc labeled with its content group's canonical (min) doc_id.
    *
    * One windowed pass over ONE hashing scan (r6): the former
    * groupBy+join-back shape evaluated the normalize+md5 subtree twice
    * (both join inputs re-derived it from the source — plus twice more
    * inside the join's isnotnull null-filters) and paid a groupBy
    * exchange on top of the join. min/count over an unordered window
    * on the same key compute the identical canonical/size values from
    * a single hash pass and a single content_hash exchange.
    */
  def exact(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val w = Window.partitionBy("content_hash")
    docs.select(col("doc_id"), md5(norm).as("content_hash"))
      // the former inner join dropped null-hash rows (null never
      // equi-joins); the window would otherwise group them together
      .filter(col("content_hash").isNotNull)
      .select(col("doc_id"), col("content_hash"),
        min("doc_id").over(w).as("canonical_doc_id"),
        count(lit(1)).over(w).as("group_size"))
      .withColumn("is_canonical", col("doc_id") === col("canonical_doc_id"))
  }

  /** Word n-gram shingle set of `text` (distinct, order-free). Docs
    * with fewer than `n` tokens yield an empty set — guarded with a
    * `when`, because `sequence(a, b)` auto-steps DOWNWARD when b < a
    * (round 1 fed the resulting 0 index into `slice`, which Spark
    * rejects at runtime for any short doc).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => t =!= "")
    if (n == 1) array_distinct(toks)
    else {
      val shingled = transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))
      array_distinct(
        when(size(toks) >= n, shingled).otherwise(array().cast("array<string>")))
    }
  }

  /** Exact Jaccard verify of candidate pairs: `pairs` carries the ids
    * `a`, `b` and their shingle sets `sh_a`, `sh_b`; returns
    * `(a, b, jaccard)` for the pairs with jaccard ≥ `threshold`.
    *
    * PRECONDITION: both sets come from [[wordShingles]], so neither
    * holds a duplicate. Only then is |A∪B| = |A|+|B|−|A∩B|, which
    * spares array_union's second hash-set pass per pair and keeps the
    * quotient bit-identical (r6). The intersection is computed once,
    * in its own projection.
    */
  private[graft] def jaccardAtLeast(pairs: DataFrame, a: String, b: String,
      threshold: Double): DataFrame =
    pairs
      .select(col(a), col(b),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("ni"))
      .select(col(a), col(b),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact pairwise word-shingle Jaccard ≥ threshold within
    * (lang, length-bucket) blocks.
    *
    * Candidate generation is PREFIX FILTERING (AllPairs / PPJoin,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08), not the round-1
    * quadratic block self-join: order every shingle set by global
    * rarity (document frequency, then token), keep each doc's first
    * |S| − ⌈t·|S|⌉ + 1 shingles, and join docs sharing a PREFIX
    * shingle within a block. The prefix lemma guarantees every pair
    * with J ≥ t shares a prefix token, so the result is EXACTLY the
    * all-pairs answer (the DuckDB oracle is unchanged) while the join
    * fans out only on rare tokens. A length filter (t·|A| ≤ |B|)
    * prunes further. Verification re-joins the shingle sets by id —
    * ids, not texts, move through the candidate shuffle.
    *
    * The one corpus shape prefix filtering cannot bound is a giant
    * clique of docs whose ENTIRE vocabulary is common — in practice,
    * identical boilerplate repeated millions of times, which makes
    * every one of its tokens common and every member's prefix the
    * same hot token. Those docs have IDENTICAL shingle sets, so they
    * are collapsed to one representative per (block, md5 of the
    * sorted set) BEFORE the join — the 10M-copy clique costs the
    * prefix join one row — and verified representative pairs are
    * expanded back to member pairs afterwards (within-group pairs
    * have J = 1 by construction). Exact: members of a group are
    * interchangeable w.r.t. Jaccard, and md5(128-bit) equality over
    * the canonical sorted set is the same exactness stance as
    * [[exactDuplicates]]. Near-identical-but-unequal sets don't
    * collapse, but they differ in a token, and a differing token is
    * rare in the clique's block, so the prefix ordering (rarest
    * first) keeps those joins fanned out on the rare tokens.
    */
  def ngramJaccard(
      docs: DataFrame,
      n: Int = 1,
      threshold: Double = 0.6,
      lengthBucket: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    val r = ngramRepPairs(docs, n, threshold, lengthBucket, checkpointDir)

    // expand representative pairs back to member pairs; members of the
    // same group (identical sets, same block) are J = 1 cliques
    val cross = r.repPairs
      .join(r.docToRep.select(col("rep_id").as("rep_a"), col("doc_id").as("a")), "rep_a")
      .join(r.docToRep.select(col("rep_id").as("rep_b"), col("doc_id").as("b")), "rep_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    val intra = r.docToRep.filter(col("grp_n") >= 2)
      .select(col("rep_id"), col("doc_id").as("a"))
      .join(r.docToRep.select(col("rep_id"), col("doc_id").as("b")), "rep_id")
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  /** Collapsed intermediate of [[ngramJaccard]]: the doc→representative
    * map (one rep per identical-shingle-set group within a block) and
    * the verified representative-level pairs. [[nearDupGroups]]
    * consumes this directly — connectivity needs only member→rep star
    * edges plus rep-level pairs, never the quadratic member-pair
    * expansion (a 10M-copy boilerplate clique contributes 10M star
    * edges to the closure, not 5·10^13 pairs).
    */
  private final case class NgramRep(docToRep: DataFrame, repPairs: DataFrame)

  private def ngramRepPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      lengthBucket: Int,
      checkpointDir: Option[String] = None): NgramRep = {
    val all = docs.select(
      col("doc_id"), col("lang"),
      (col("n_chars") / lengthBucket).cast("int").as("len_bucket"),
      wordShingles(col("text"), n).as("shingles"))

    // identical-set collapse: group key is (block, canonical-set md5);
    // only (ids, 128-bit sig) move through this shuffle. "\n" cannot
    // occur inside a shingle (tokens are \s+-split), so the encoding
    // is unambiguous.
    // empty sets are excluded up front: explode() never surfaces them
    // in the prefix join, so the legacy contract emits no pair for
    // them — the collapse must not invent J=1 empty-set cliques.
    // ONE windowed pass (r6): rep_id/grp_n are min/count over an
    // unordered window on the group key — the former groupBy rollup +
    // join-back needed the sig frame materialized first (it fed both
    // join inputs), i.e. one more eager driver-serial job and two
    // exchanges where the window needs one.
    // materialized: `docToRep` fans into 3+ consumers (member
    // expansion both sides, the intra cliques, the groups closure),
    // and `withSets` fans into the token explode, the size lookup and
    // BOTH sides of the verify join — without these cuts every
    // consumer re-executes the wordShingles subtree (a full scan +
    // per-token md5 over the corpus text: ~6 executions observed in
    // the executed plan). At 100 TB that is six scans of the text
    // table for one query. Checkpoint the NARROW frames only —
    // docToRep is 3 longs/row, withSets is shingles for the collapsed
    // reps — the full per-doc shingle frame `all` stays lazy
    // (computed exactly twice: once into docToRep, once into
    // withSets).
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "len_bucket", "sig")
    val docToRep = Materialize(all.filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("lang"), col("len_bucket"),
        md5(concat_ws("\n", array_sort(col("shingles")))).as("sig"))
      .select(col("doc_id"),
        min("doc_id").over(wg).as("rep_id"),
        count(lit(1)).over(wg).as("grp_n")),
      "ngram_doc2rep", checkpointDir).df
    // reps are exactly the rows that are their own group min
    val withSets = Materialize(all.join(
      docToRep.filter(col("doc_id") === col("rep_id")).select("doc_id"),
      Seq("doc_id"), "left_semi"),
      "ngram_repsets", checkpointDir).df

    val toks = withSets.select(col("doc_id"), col("lang"), col("len_bucket"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("t"))
    val dfreq = toks.groupBy("t").agg(count(lit(1)).as("df"))
    // prefix = rarest (|S| − ⌈t·|S|⌉ + 1) shingles; the ε guards the
    // exact-integer boundary of t·|S| in the safe (longer) direction
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .cast("int")
    val prefixes = toks.join(dfreq, "t")
      .groupBy("doc_id", "lang", "len_bucket", "sz")
      .agg(slice(array_sort(collect_list(struct(col("df"), col("t")))),
        lit(1), prefixLen).as("prefix"))
      .select(col("doc_id"), col("lang"), col("len_bucket"), col("sz"),
        explode(col("prefix.t")).as("t"))

    // the prefix self-join goes through the shared bounded self-join in
    // SALT-ONLY mode (megaCap = MaxValue → no down-sampling, exactness
    // preserved): a hot-but-not-identical prefix token — distinct sets
    // that are mostly common vocabulary, the one shape the identical-
    // set collapse can't fold — spreads its quadratic work over
    // `salts` tasks instead of landing in one.
    val cand0 = boundedSelfJoinPairs(
      prefixes.select(col("lang"), col("len_bucket"), col("t"), col("doc_id")),
      Seq("lang", "len_bucket", "t"), "doc_id",
      BlockBounds(maxBlockSize = 64, megaCap = Int.MaxValue, salts = 8,
        checkpointDir = checkpointDir))
    // length filter (t·|A| ≤ |B| for |B| ≤ |A|) after the pair dedup —
    // pure prune, the exact-Jaccard verify below decides membership.
    // The ε guards the exact-integer boundary: at t=0.55, |A|=20,
    // |B|=11 the product is 11.000000000000001 > 11 and a
    // J-exactly-t pair would be pruned before verification
    val szs = withSets.select(col("doc_id"), size(col("shingles")).as("_sz"))
    val cand = cand0
      .join(szs.select(col("doc_id").as("doc_a"), col("_sz").as("sz_a")), "doc_a")
      .join(szs.select(col("doc_id").as("doc_b"), col("_sz").as("sz_b")), "doc_b")
      .filter(lit(threshold) * col("sz_a") - lit(1e-9) <= col("sz_b") &&
        lit(threshold) * col("sz_b") - lit(1e-9) <= col("sz_a"))
      .select("doc_a", "doc_b")

    val sets = withSets.select(col("doc_id"), col("shingles"))
    val repPairs = jaccardAtLeast(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("sh_a"), col("sh_b")),
      "rep_a", "rep_b", threshold)
    NgramRep(docToRep, repPairs)
  }

  /** MinHash+LSH near-dup groups: shingle → banded minhash → docs
    * sharing any band key are near-dup candidates; candidates verified
    * with true Jaccard ≥ threshold; groups = connected components are
    * left to the caller (graft.cluster.ConnectedComponents) — here we
    * emit verified candidate pairs.
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      shingleChars: Int = 5,
      bands: Int = 8,
      rows: Int = 4,
      threshold: Double = 0.7,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    // ids ONLY through the band shuffle — round 1 carried both full
    // document texts ×bands×2 sides and ran distinct() over them; at
    // 100 TB that shuffles the corpus 16×. Texts re-join exactly once,
    // after the candidate pair set is deduplicated. Band blocks are
    // BOUNDED (three-tier; object doc) — a boilerplate cluster sharing
    // a band cannot go quadratic in one task.
    val keyed = docs.select(col("doc_id"),
      explode(GraftFunctions.minhash_band_keys(
        lower(col("text")), shingleChars, bands, rows)).as("band"))
    val cand = boundedSelfJoinPairs(keyed, Seq("band"), "doc_id", bounds)
    // verify on LOWERCASED shingles — banding hashes lower(text), so a
    // case-sensitive verify would band case-variant near-dups together
    // and then wrongly reject them (the portable twin below lowercases
    // both sides already). Deliberately NOT materialized (r6 measured
    // it): the shingle frame is corpus-fat (≈ the text bytes), so
    // copying it to checkpoint storage costs more than the two
    // re-tokenization scans it saves — the repo's narrow-frames-only
    // checkpoint discipline.
    val sets = docs.select(col("doc_id"), wordShingles(lower(col("text")), 1).as("sh"))
    jaccardAtLeast(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b"),
      "doc_a", "doc_b", threshold)
  }

  /** Oracle-checkable MinHash-LSH twin of [[minhashNearDupPairs]]:
    * identical banding semantics, but the hash is md5 over
    * `"<seed>:<token>"` with the per-seed minimum taken LEXICOGRAPHICALLY
    * over the hex digests — every step (tokenize, hash, min, band-key
    * concat, band self-join, exact-Jaccard verify) is expressible in
    * ANSI SQL, so an independent engine reproduces the EXACT emitted
    * pair set, banding included (the fast kernel variant's xxhash
    * banding is not portable and was verifiable only by planted-pair
    * tests). Soundness of every emitted pair (jaccard ≥ threshold) and
    * banding recall are both pinned by the cross-engine hash compare.
    * Word-unigram shingles; `bands × rows` md5 evaluations per token —
    * heavier per byte than the kernel variant, same join shape.
    */
  def minhashNearDupPairsPortable(
      docs: DataFrame,
      bands: Int = 4,
      rows: Int = 4,
      threshold: Double = 0.5,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    val sets = docs.select(col("doc_id"),
      wordShingles(lower(trim(col("text"))), 1).as("sh"))
    val toks = sets.select(col("doc_id"), explode(col("sh")).as("t"))
    val hashed = toks
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(bands * rows - 1))).as("seed"), col("t"))
      .select(col("doc_id"), col("seed"),
        md5(concat(col("seed").cast("string"), lit(":"), col("t"))).as("h"))
    val minh = hashed.groupBy("doc_id", "seed").agg(min("h").as("mh"))
    val banded = minh
      .groupBy(col("doc_id"), (col("seed") / lit(rows)).cast("int").as("band"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seed"), col("mh")))),
        v => v.getField("mh")), "|").as("bandkey"))
      .select(col("doc_id"),
        concat(col("band").cast("string"), lit(":"), col("bandkey")).as("band"))
    // SALT-ONLY bounds: this is the ORACLE-EXACT twin (DuckDB does the
    // full band self-join), so a mega band must spread over salts, not
    // lose members — same contract as simhashPairsVerify; the xxhash
    // kernel variant keeps the bounded scale behavior.
    val cand = boundedSelfJoinPairs(banded, Seq("band"), "doc_id",
      bounds.copy(megaCap = Int.MaxValue))
    jaccardAtLeast(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b"),
      "doc_a", "doc_b", threshold)
  }

  /** 64-bit SimHash per doc (codegen'd kernel; see
    * graft.functions.SimHash64). Near-dups = small hamming distance;
    * the scale path buckets on 16-bit slices of the fingerprint so
    * only same-slice docs are compared.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))

  /** Oracle-checkable SimHash twin (the portability move of
    * [[minhashNearDupPairsPortable]]): Charikar's weighted bit-majority
    * fingerprint with the per-token hash taken as the first 16 hex
    * chars of md5(token), emitted as a 16-hex-char string — every step
    * (tokenize+count, md5, per-bit signed vote, majority, nibble
    * re-assembly) is ANSI-SQL-expressible, so an independent engine
    * reproduces the exact value (the fast kernel's token hash is not
    * portable). Bit p's vote is sum(count × (2·bit_p(md5(token)) − 1));
    * the fingerprint bit is 1 iff the vote is > 0 (ties → 0, identical
    * rule both engines). Docs with no tokens are NULL. HOF/explode
    * fan-out (tokens × 64 bits) is fine for a verification twin.
    */
  def simhashVerify(docs: DataFrame): DataFrame = {
    val hexes = "0123456789abcdef"
    val toks = docs.select(col("doc_id"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"), t => t =!= "")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .withColumn("h", substring(md5(col("t")), 1, 16))
    // one row per (doc, token, nibble position 1..16, bit weight 8/4/2/1)
    val bits = toks
      .select(col("doc_id"), col("cnt"),
        posexplode(transform(sequence(lit(1), lit(16)), i => col("h").substr(i, lit(1)))))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "c")
      .withColumn("v", conv(col("c"), 16, 10).cast("int"))
      .select(col("doc_id"), col("cnt"), col("ci"),
        explode(typedlit(Seq(8, 4, 2, 1))).as("w"), col("v"))
      .withColumn("bit", floor(col("v") / col("w")).cast("int") % 2)
    val votes = bits.groupBy("doc_id", "ci", "w")
      .agg(sum(col("cnt") * (col("bit") * 2 - 1)).as("s"))
      .withColumn("fpbit", when(col("s") > 0, 1).otherwise(0))
    val nibbles = votes.groupBy("doc_id", "ci")
      .agg(sum(col("fpbit") * col("w")).as("nv"))
      .withColumn("nc", lit(hexes).substr(col("nv").cast("int") + 1, lit(1)))
    val fp = nibbles.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ci"), col("nc")))),
        x => x.getField("nc")), "").as("simhash_hex"))
    docs.select("doc_id").join(fp, Seq("doc_id"), "left")
  }

  /** Oracle-checkable twin of the full simhash PAIRS path (banding AND
    * verify, not just the fingerprint): [[simhashVerify]]'s md5-vote
    * hex fingerprints → `maxHamming + 1` nibble-aligned slices
    * (pigeonhole recall, as in [[simhashPairsFromFingerprints]]) →
    * bounded slice self-join → EXACT hamming distance over the hex
    * nibbles. Every step is ANSI-SQL-expressible (substring slices;
    * hamming = Σ bit_count(nibble_a XOR nibble_b)), so an independent
    * engine reproduces the exact emitted pair set end-to-end — this
    * pins the last kernel family whose PAIRS output was rows-only.
    * Nibble alignment restricts `maxHamming + 1` to divisors of 16.
    * Hamming is computed over two 32-bit halves (conv of 8 hex chars —
    * a full 16-char conv would overflow a signed long cast under ANSI).
    */
  def simhashPairsVerify(docs: DataFrame, maxHamming: Int = 3,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    val slices = maxHamming + 1
    require(16 % slices == 0,
      s"maxHamming $maxHamming: slices ($slices) must divide the 16 hex nibbles")
    val w = 16 / slices // hex chars per slice
    val fp = Materialize( // read by banding AND twice by the verify join
      simhashVerify(docs).filter(col("simhash_hex").isNotNull),
      "shv_fp", bounds.checkpointDir).df
    val sliceExprs = (0 until slices).map(i =>
      concat(lit(s"$i:"), substring(col("simhash_hex"), i * w + 1, w)))
    val sliced = fp.select(col("doc_id"), explode(array(sliceExprs: _*)).as("slice"))
    // SALT-ONLY bounds (megaCap forced off, like ngramRepPairs): the
    // oracle does the FULL slice self-join, so mega down-sampling here
    // would silently drop hamming<=maxHamming pairs on exactly the
    // boilerplate-heavy corpora this family targets and break the
    // cross-engine exactness this twin exists to pin. Hot slices still
    // spread over salts; they just never lose members. (The xxhash
    // kernel path keeps its bounded behavior — it is the documented
    // scale path, rows-only by design.)
    val cand = boundedSelfJoinPairs(sliced, Seq("slice"), "doc_id",
      bounds.copy(megaCap = Int.MaxValue))
    def half(c: Column, i: Int): Column =
      conv(substring(c, i * 8 + 1, 8), 16, 10).cast("long")
    def hamming(a: Column, b: Column): Column =
      (bit_count(half(a, 0).bitwiseXOR(half(b, 0))) +
        bit_count(half(a, 1).bitwiseXOR(half(b, 1)))).cast("long")
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash_hex").as("fp_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash_hex").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), hamming(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs with a RECALL GUARANTEE: the 64-bit
    * fingerprint is cut into `maxHamming + 1` slices, so by pigeonhole
    * any pair within `maxHamming` differing bits shares at least one
    * untouched slice — zero candidate misses (round 2 bucketed on four
    * 16-bit slices but defaulted maxHamming = 8, silently missing
    * pairs whose 4–8 differing bits spread across all four slices).
    * The tradeoff is explicit: larger maxHamming → narrower slices →
    * bigger blocks (bounded by the salted self-join). Verified by exact
    * hamming distance ≤ maxHamming.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
      bounds: BlockBounds = BlockBounds()): DataFrame =
    // fingerprints materialized once (r6): the (doc_id, simhash) frame
    // is 16 B/row but fans into the slice explode AND both sides of
    // the hamming verify — lazy, the simhash64 kernel re-scanned the
    // full corpus text three times per run
    simhashPairsFromFingerprints(
      Materialize(simhash(docs), "simhash_fp", bounds.checkpointDir).df,
      maxHamming, bounds)

  /** Slice-and-verify over a precomputed `(doc_id, simhash)` frame —
    * split out so adversarial bit patterns are testable directly.
    */
  def simhashPairsFromFingerprints(fp: DataFrame, maxHamming: Int = 3,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    val slices = maxHamming + 1 // pigeonhole: ≤ maxHamming flips leave one slice intact
    require(slices >= 1 && slices <= 64, s"maxHamming $maxHamming out of range")
    // distribute 64 bits: the first (64 % slices) slices get one extra bit
    val base = 64 / slices
    val widths = (0 until slices).map(i => if (i < 64 % slices) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val sliceExprs = (0 until slices).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
      concat(lit(s"$i:"), shiftright(col("simhash"), offsets(i)).bitwiseAND(mask))
    }
    val sliced = fp.select(col("doc_id"), explode(array(sliceExprs: _*)).as("slice"))
    val cand = boundedSelfJoinPairs(sliced, Seq("slice"), "doc_id", bounds)
    val fps = fp.select(col("doc_id"), col("simhash"))
    cand
      .join(fps.select(col("doc_id").as("doc_a"), col("simhash").as("fp_a")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("simhash").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-dup pairs via MULTI-TABLE random-hyperplane
    * LSH: `tables` independent sign-bucket tables (distinct hash
    * seeds); a pair is a candidate when it shares a bucket in ANY
    * table, which recovers pairs a single table loses to one sign flip
    * on a near-zero projection (round 1 used one 6-plane table: 64
    * buckets total — quadratic at scale AND zero verified rows).
    * Candidates move as ids only; embeddings re-join once for the
    * cosine verify. `quantized` uses integer-quantized cosine for
    * cross-engine oracle parity.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      tables: Int = 6,
      planes: Int = 8,
      threshold: Double = 0.95,
      quantized: Boolean = false,
      bounds: BlockBounds = BlockBounds()): DataFrame = {
    val bucketed = embeddings.select(col("vec_id"),
      posexplode(Similarity.hyperplaneBuckets(col("embedding"), tables, planes)))
      .toDF("vec_id", "tbl", "bucket")
    val cand = boundedSelfJoinPairs(bucketed, Seq("tbl", "bucket"), "vec_id", bounds)
      .toDF("id_a", "id_b")
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val cos =
      if (quantized) Similarity.cosineQuantized(col("e_a"), col("e_b"))
      else Similarity.cosine(col("e_a"), col("e_b"))
    cand
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Hyperplane count sized to the corpus: expected bucket occupancy
    * n / 2^planes ≈ `targetPerBucket`. The 8-plane default of
    * [[embeddingNearDupPairs]] (256 buckets/table) is sized for ~10^5
    * vectors; at 10^11 vectors pass ~`planesFor(n)` ≈ 28 planes or
    * every bucket is a mega block and the candidate join degrades to
    * the down-sampled tier.
    */
  def planesFor(n: Long, targetPerBucket: Int = 256): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetPerBucket)) / math.log(2.0)).toInt)

  /** Near-duplicate GROUPS — the operator a training-data pipeline
    * actually runs end-to-end: exact n-gram-Jaccard pairs
    * ([[ngramJaccard]]) as edges → transitive closure
    * (graft.cluster.ConnectedComponents, the same large-star/small-star
    * loop the ER path uses) → one row per doc with its group id (min
    * doc_id of the component), the group size, and `is_canonical`
    * (keep canonical rows, drop the rest). Docs with no near-dup edge
    * are their own singleton group. Fully SQL-expressible, so the
    * whole composition is DuckDB-oracle-checked (recursive-CTE
    * closure) — see SparkEntry.oracleSql("dd_dedup_groups").
    */
  def nearDupGroups(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      n: Int = 1,
      threshold: Double = 0.6,
      lengthBucket: Int = 100,
      checkpointDir: Option[String] = None): DataFrame =
    nearDupGroupsWithStats(spark, docs, n, threshold, lengthBucket, checkpointDir)._1

  /** [[nearDupGroups]] plus the closure's convergence stats — the
    * rep-graph design keeps the loop short (OpsSpec pins the iteration
    * count; driver-serial CC latency was 36% of the round-3 bench).
    */
  def nearDupGroupsWithStats(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      n: Int = 1,
      threshold: Double = 0.6,
      lengthBucket: Int = 100,
      /** Durable parquet snapshots for every eager materialization in
        * this composition (rep map, rep sets, tier frames, CC
        * iterations, group labels) — executor-loss survival on a real
        * cluster; localCheckpoint otherwise.
        */
      checkpointDir: Option[String] = None): (DataFrame, graft.cluster.ConnectedComponents.Stats) = {
    import graft.cluster.ConnectedComponents.padId
    // The closure runs over the REPRESENTATIVE graph only: docToRep is
    // a function (one rep per doc) and rep_id is the MIN doc of its
    // identical-set group, so component(doc) = component(rep(doc)) and
    // the component's min doc = its min rep — labels extend to members
    // by one join AFTER the fixpoint. Round 3 fed the member→rep star
    // edges into the loop itself; correct, but every iteration then
    // re-shuffled |docs| star edges and cold member labels cost extra
    // rounds (driver-serial checkpoint latency dominated the bench:
    // 51 s for this query, 36% of the r3 suite). Same components, same
    // labels, loop input shrinks from |docs|+|repPairs| edges to
    // |repPairs| — a giant identical-boilerplate clique never enters
    // the loop at all (its members collapse to one rep upstream).
    val r = ngramRepPairs(docs, n, threshold, lengthBucket, checkpointDir)
    val repEdges = r.repPairs
      .select(padId(col("rep_a")).as("src"), padId(col("rep_b")).as("dst"))
    // the star edges (rep → its component's min rep), read by g's own
    // materialization off the durable/checkpointed fixpoint frame
    val (repStar, ccStats) =
      graft.cluster.ConnectedComponents.run(spark, repEdges, checkpointDir = checkpointDir)
    // member label = its rep's component min (a rep with no star edge —
    // a component min, or a rep with no rep-level edge — keeps itself);
    // docs with empty shingle sets never entered docToRep and stay
    // singletons.
    // `labeled` is consumed exactly once (the union below) now that
    // the singleton anti-join runs against the already-checkpointed
    // docToRep (same doc_id universe) — so it needs no checkpoint of
    // its own: one fewer eager driver-serial job per run (r6; the
    // round-5 version checkpointed it for a second consumer that no
    // longer exists). `g` still feeds both the size rollup and the
    // final join — lazy, each consumer would re-run the rep-labeling
    // join (and through it the CC output) once more.
    val labeled = r.docToRep
      .select(col("doc_id"), padId(col("rep_id")).as("rep"))
      .join(repStar.select(col("doc_id").as("rep"), col("entity_id")),
        Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("entity_id"), col("rep")).as("glabel"))
    val singletons = docs.select(col("doc_id"))
      .join(r.docToRep.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), padId(col("doc_id")).as("glabel"))
    val g = Materialize(labeled.unionByName(singletons)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("glabel").cast("long").as("group_id")),
      "ngram_groups", checkpointDir).df
    val sizes = g.groupBy("group_id").agg(count(lit(1)).as("group_size"))
    (g.join(sizes, "group_id")
      .select(col("doc_id"), col("group_id"), col("group_size"),
        (col("doc_id") === col("group_id")).as("is_canonical")), ccStats)
  }
}
