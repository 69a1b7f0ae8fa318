package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Training-data operators over the driver-generated documents /
  * embeddings tables (sf0.001).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup: groups partition the corpus; canonical is min id") {
    val d = Dedup.exact(docs)
    assert(d.count() == docs.count())
    val bad = d.groupBy("content_hash")
      .agg(min("doc_id").as("m"), first("canonical_doc_id").as("c"))
      .filter(col("m") =!= col("c"))
    assert(bad.count() == 0)
  }

  test("exact dedup finds planted duplicates") {
    val planted = docs.limit(3).withColumn("doc_id", col("doc_id") + 1000000)
    val d = Dedup.exact(docs.unionByName(planted))
    assert(d.filter(col("group_size") === 2).count() == 6)
    assert(d.filter(!col("is_canonical")).count() == 3)
  }

  test("minhash near-dup pairs find a planted near-duplicate") {
    val nearDup = docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 2000000)
      .withColumn("text", concat(col("text"), lit(" extra token")))
    val pairs = Dedup.minhashNearDupPairs(docs.unionByName(nearDup), threshold = 0.8)
    val origId = docs.limit(1).select("doc_id").as[Long].head()
    assert(pairs.filter(col("doc_a") === origId &&
      col("doc_b") === origId + 2000000).count() == 1)
  }

  test("minhash near-dup pairs: case-variant near-dups are found (band and verify both lowercase)") {
    // banding hashes lower(text); a case-SENSITIVE verify would band
    // these together and then reject them with jaccard 0
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq((1L, base), (2L, "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, threshold = 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("simhash slicing guarantees recall up to maxHamming (pigeonhole)") {
    // adversarial pair: 8 differing bits, one in each 8-bit region —
    // round-2's four 16-bit slices are ALL touched (pair invisible to
    // that scheme); the maxHamming+1 = 9-slice scheme must find it
    val a = 0L
    val b = (0 until 8).map(i => 1L << (i * 8)).reduce(_ | _)
    assert(java.lang.Long.bitCount(a ^ b) == 8)
    val fp = Seq((1L, a), (2L, b)).toDF("doc_id", "simhash")
    assert(Dedup.simhashPairsFromFingerprints(fp, maxHamming = 8).count() == 1)
    // randomized spreads at the default maxHamming = 3: every planted
    // pair (any 3 bit positions flipped) must be recalled
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).flatMap { i =>
      val base = rnd.nextLong()
      val other = rnd.shuffle((0 until 64).toList).take(3)
        .foldLeft(base)((v, bit) => v ^ (1L << bit))
      Seq((i * 2L + 10, base), (i * 2L + 11, other))
    }.toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFromFingerprints(rows, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    (0 until 50).foreach { i =>
      assert(pairs.contains((i * 2L + 10, i * 2L + 11)), s"planted pair $i missed")
    }
  }

  test("boundedSelfJoinPairs == plain self-join of kept members: cold, hot, mega, null keys") {
    // randomized equivalence oracle for the shared salted self-join:
    // Zipfian keys force cold, hot and (at a finite megaCap) mega keys;
    // null keys must behave like a plain column equi-join (never match);
    // a mega key joins only the members the one down-sampling rule keeps
    var cold, hot, mega = 0
    for (seed <- Seq(1, 2, 3); megaCap <- Seq(Int.MaxValue, 24)) {
      val bounds = Dedup.BlockBounds(maxBlockSize = 16, megaCap = megaCap, salts = 4)
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 400).map { i =>
        val key = if (rnd.nextInt(10) == 0) null
          else s"k${(math.pow(rnd.nextDouble(), 3) * 16).toInt}" // Zipf-ish: k0 hot
        (i.toLong, key)
      }
      val keyed = rows.toDF("doc_id", "bkey")
      val hash = keyed.select(col("doc_id"), xxhash64(col("doc_id")))
        .as[(Long, Long)].collect().toMap
      val expected = rows.filter(_._2 != null).groupBy(_._2).values.flatMap { g =>
        val kept =
          if (g.size > bounds.maxBlockSize && g.size > megaCap) {
            mega += 1
            val keepMod = math.ceil(g.size.toDouble / megaCap).toLong
            g.filter(r => Math.floorMod(hash(r._1), keepMod) == 0)
          } else {
            if (g.size > bounds.maxBlockSize) hot += 1 else cold += 1
            g
          }
        for (a <- kept; b <- kept if a._1 < b._1) yield (a._1, b._1)
      }.toSet
      val got = Dedup.boundedSelfJoinPairs(keyed, Seq("bkey"), "doc_id", bounds)
        .as[(Long, Long)].collect().toSet
      assert(got == expected, s"seed $seed, megaCap $megaCap: ${got.size} vs ${expected.size}")
    }
    assert(cold > 0 && hot > 0 && mega > 0, s"key coverage: cold=$cold hot=$hot mega=$mega")
  }

  test("boundedSelfJoinPairs with a durable checkpointDir emits the identical pair set") {
    // cluster-resumability path: tier frames as parquet snapshots
    // instead of executor-local localCheckpoint blocks — outputs must
    // be bit-identical to the in-memory path
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      (i.toLong, s"k${(math.pow(rnd.nextDouble(), 3) * 6).toInt}")
    }
    val keyed = rows.toDF("doc_id", "bkey")
    val dir = java.nio.file.Files.createTempDirectory("bsj_ckpt").toString
    val mem = Dedup.boundedSelfJoinPairs(keyed, Seq("bkey"), "doc_id",
        Dedup.BlockBounds(maxBlockSize = 16, megaCap = 64, salts = 4))
      .as[(Long, Long)].collect().toSet
    val durable = Dedup.boundedSelfJoinPairs(keyed, Seq("bkey"), "doc_id",
        Dedup.BlockBounds(maxBlockSize = 16, megaCap = 64, salts = 4,
          checkpointDir = Some(dir)))
      .as[(Long, Long)].collect().toSet
    assert(durable == mem)
    // and the tier snapshots actually landed in the store
    val snaps = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(snaps.iterator().asScala.nonEmpty, "no tier snapshot written")
    finally snaps.close()
  }

  test("mega band blocks are down-sampled deterministically, never quadratic") {
    // 5,000-member boilerplate cluster: every band key is shared by all
    // docs → without the mega tier this is ~12.5M pairs in one task
    val boiler = (0 until 5000)
      .map(i => (i.toLong, "identical boilerplate text shared by every document in this cluster"))
      .toDF("doc_id", "text")
    val bounds = Dedup.BlockBounds(maxBlockSize = 64, megaCap = 128, salts = 4)
    val pairs = Dedup.minhashNearDupPairs(boiler, threshold = 0.9, bounds = bounds)
    val n = pairs.count()
    // retained members ≈ megaCap → pairs ≈ megaCap²/2, not n²/2
    assert(n > 0, "down-sampling must keep pairs among retained members")
    assert(n < 170L * 170L / 2 * 2, s"mega block not bounded: $n pairs")
    // determinism across runs
    assert(Dedup.minhashNearDupPairs(boiler, threshold = 0.9, bounds = bounds).count() == n)
  }

  test("planesFor scales hyperplane count with corpus size") {
    assert(Dedup.planesFor(100000L) >= 8)
    assert(Dedup.planesFor(100000000000L) >= 26)
    assert(Dedup.planesFor(10L) == 4)
  }

  test("simhash: identical text → identical fingerprint; near text → small hamming") {
    val twoDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely unrelated words about database query optimizers")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhash(twoDocs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 16)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 16)
  }

  test("jaccardAtLeast over wordShingles equals the set Jaccard on texts with repeated tokens") {
    // the |A|+|B|−|A∩B| union is exact only for duplicate-free sets
    val texts = Seq(
      "a a b c" -> "a b b d d",
      "x y x y x" -> "x x y",
      "the cat the cat sat" -> "the the dog sat sat",
      "p q r" -> "s t t",
      "one one" -> "one one one")
    for (n <- Seq(1, 2)) {
      val pairs = texts.zipWithIndex.map { case ((l, r), i) => (i.toLong, i + 100L, l, r) }
        .toDF("doc_a", "doc_b", "ta", "tb")
        .select(col("doc_a"), col("doc_b"),
          Dedup.wordShingles(col("ta"), n).as("sh_a"), Dedup.wordShingles(col("tb"), n).as("sh_b"))
      val got = Dedup.jaccardAtLeast(pairs, "doc_a", "doc_b", 0.0).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      def shingles(t: String) = t.split(" ").sliding(n).map(_.mkString(" ")).toSet
      val want = texts.zipWithIndex.map { case ((l, r), i) =>
        val (a, b) = (shingles(l), shingles(r))
        i.toLong -> a.intersect(b).size.toDouble / a.union(b).size
      }.toMap
      assert(got == want, s"n=$n")
    }
  }

  test("ngram jaccard: identical docs in same block score 1.0") {
    val planted = docs.limit(2).withColumn("doc_id", col("doc_id") + 3000000)
    val pairs = Dedup.ngramJaccard(docs.unionByName(planted), threshold = 0.99)
    assert(pairs.filter(col("jaccard") === 1.0).count() >= 2)
  }

  test("ngram jaccard: identical-set cliques collapse and expand back exactly") {
    // 300 verbatim copies — the one shape prefix filtering can't bound
    // (every token is common) — must cost the prefix join ONE row and
    // still emit every member pair, plus every pair with the
    // one-token-off neighbor (9 distinct tokens, 8 shared → J = 0.8)
    val boiler = "spark dedup boilerplate shared verbatim across the corpus fleet"
    val near = boiler.replace("fleet", "navy")
    val df = ((0 until 300).map(i => (4000000L + i, boiler, "en", boiler.length)) :+
      ((4100000L, near, "en", near.length)))
      .toDF("doc_id", "text", "lang", "n_chars")
    val pairs = Dedup.ngramJaccard(df, threshold = 0.6).localCheckpoint(true)
    assert(pairs.filter(col("jaccard") === 1.0).count() == 300L * 299 / 2)
    assert(pairs.count() == 300L * 299 / 2 + 300)
    assert(pairs.filter(col("doc_b") === 4100000L).count() == 300)
  }

  test("ngram jaccard: hot-but-not-identical prefix token is salted with NO pair loss") {
    // 120 docs: 9 shared tokens + 1 unique each — sets are all DISTINCT
    // (the identical-set collapse can't fold them) and every doc's
    // prefix contains shared tokens, so one hot prefix block covers all
    // docs. Salt-only mode must still emit every pair: J = 9/11 ≈ 0.82
    val shared = (1 to 9).map(i => f"common$i%02d").mkString(" ")
    val df = (0 until 120).map(i => (7000000L + i, s"$shared unique$i"))
      .map { case (id, t) => (id, t, "en", 60) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val pairs = Dedup.ngramJaccard(df, threshold = 0.6)
    assert(pairs.count() == 120L * 119 / 2, "salting must keep ALL pairs")
    assert(pairs.filter(col("jaccard") < 0.8 || col("jaccard") > 0.83).count() == 0)
  }

  test("near-dup groups: clique + chain collapse transitively; canonical is min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (10L, base), (11L, base),                       // exact pair
      (12L, base.replace("kappa", "lambda")),         // near 10/11 (J=9/11)
      (20L, "one two three four five six seven eight nine ten"),
      (30L, "completely different words with no overlap at all whatsoever totally")
    ).map { case (id, t) => (id, t, "en", t.length) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val g = Dedup.nearDupGroups(spark, df, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(g(10L) == ((10L, 3L, true)))   // 10,11,12 one group via transitivity
    assert(g(11L) == ((10L, 3L, false)))
    assert(g(12L) == ((10L, 3L, false)))
    assert(g(20L) == ((20L, 1L, true)))   // singletons
    assert(g(30L) == ((30L, 1L, true)))
  }

  test("brute-force ANN matches a driver-side exact oracle") {
    val topk = Similarity.bruteForceTopK(embeddings, Seq(0L), k = 5)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    // independent oracle: collect and compute cosine in plain Scala
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val p = vecs(0L).map(_.toDouble)
    def cos(v: Seq[Float]): Double = {
      val d = v.map(_.toDouble)
      val dot = p.zip(d).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(p.map(x => x * x).sum) * math.sqrt(d.map(x => x * x).sum))
    }
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (cos(v), id) }
      .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2)
    assert(topk == expected)
  }

  test("LSH ANN recall@5 >= 0.9 vs brute force on planted neighbors (default params)") {
    // five planted near-copies per probe: the brute-force top-5 is the
    // planted set (cos ≈ 0.999 vs ~0.45 background), so recall@5 of the
    // DEFAULT-parameter LSH against brute force is a real gate — the
    // old test only asserted recall > 0 at planes = 2
    val probes = Seq(0L, 1L, 2L)
    val srcs = probes.toDF("src")
      .join(embeddings.withColumnRenamed("vec_id", "src"), "src")
    val planted = srcs
      .crossJoin(spark.range(5).toDF("j"))
      .withColumn("pert", transform(col("embedding"),
        (x, i) => (x.cast("double") +
          (pmod(col("j") * 7 + i, lit(5)) - 2) / lit(1000.0)).cast("float")))
      .select((lit(5000000L) + col("src") * 10 + col("j")).as("vec_id"),
        col("pert").as("embedding"))
    val all = embeddings.select("vec_id", "embedding").unionByName(planted)
      .localCheckpoint(true)
    val bf = Similarity.bruteForceTopK(all, probes, k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshDf = Similarity.lshTopK(all, probes, k = 5) // default planes/tables
    val lsh = lshDf.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(bf.size == 15, s"brute-force baseline unexpected: ${bf.size}")
    assert(recall >= 0.9, s"LSH recall@5 $recall < 0.9")
    assert(lshDf.groupBy("probe_id").count().filter(col("count") > 5).count() == 0)
  }

  test("IVF ANN recall@5 >= 0.9 vs brute force on planted neighbors (default params)") {
    // same planted-neighbor gate as the LSH variant: five near-copies
    // per probe (cos ≈ 0.999 vs ~0.45 background) — a miss means the
    // probe's cell assignment lost a planted vector to a neighboring
    // Voronoi cell that nprobe didn't cover
    val probes = Seq(0L, 1L, 2L)
    val srcs = probes.toDF("src")
      .join(embeddings.withColumnRenamed("vec_id", "src"), "src")
    val planted = srcs
      .crossJoin(spark.range(5).toDF("j"))
      .withColumn("pert", transform(col("embedding"),
        (x, i) => (x.cast("double") +
          (pmod(col("j") * 7 + i, lit(5)) - 2) / lit(1000.0)).cast("float")))
      .select((lit(5000000L) + col("src") * 10 + col("j")).as("vec_id"),
        col("pert").as("embedding"))
    val all = embeddings.select("vec_id", "embedding").unionByName(planted)
      .localCheckpoint(true)
    val bf = Similarity.bruteForceTopK(all, probes, k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfDf = Similarity.ivfTopK(all, probes, k = 5) // default nlist/nprobe
    val ivf = ivfDf.select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"IVF recall@5 $recall < 0.9")
    assert(ivfDf.groupBy("probe_id").count().filter(col("count") > 5).count() == 0)
    // deterministic: hash-sampled quantizer + id tiebreaks, run-to-run
    val again = Similarity.ivfTopK(all, probes, k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again == ivf, "IVF results must be deterministic across runs")
  }

  test("IVF centroid paths: codegen literal and broadcast join yield identical results") {
    // the scale path (nlist ≈ √n → 10^6 at 10^12 vectors) cannot live
    // in a codegen literal; pin that switching to the broadcast-join
    // quantizer changes NOTHING semantically at a nlist both can run
    val probes = Seq(0L, 1L, 2L, 3L, 4L)
    def run(literalMax: Int) =
      Similarity.ivfTopK(embeddings, probes, k = 5, nlist = 64, nprobe = 4,
        literalMax = literalMax)
        .select("probe_id", "rank", "neighbor_id", "cosine")
        .as[(Long, Int, Long, Double)].collect().toSet
    val viaLiteral = run(literalMax = 1024) // 64 <= 1024 → typedlit path
    val viaBroadcast = run(literalMax = 1)  // 64 > 1 → broadcast-join path
    assert(viaLiteral == viaBroadcast,
      "centroid-literal and broadcast-join IVF paths must be bit-identical")
    assert(viaLiteral.nonEmpty)
    // nlistFor: √n clamped to [32, 2^20]
    assert(Similarity.nlistFor(100L) == 32)
    assert(Similarity.nlistFor(1000000L) == 1000)
    assert(Similarity.nlistFor(1000L * 1000 * 1000 * 1000) == 1000000)
    assert(Similarity.nlistFor(Long.MaxValue) == (1 << 20)) // clamp ceiling
  }

  test("language id: deterministic markers classify crafted texts; salad → defined label") {
    val crafted = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "el perro de la casa que los gatos"),
      (3L, "le chat et la maison les des est"),
      (4L, "der hund und die katze das ist"),
      (5L, "xyzzy plugh frobozz")).toDF("doc_id", "text")
    val pred = TextAnalysis.langId(crafted)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(pred(1L) == "en" && pred(2L) == "es" && pred(3L) == "fr" && pred(4L) == "de")
    assert(pred(5L) == "und")
    // corpus docs: always produce a defined label
    val labels = TextAnalysis.langId(docs).select("lang_pred").distinct()
      .as[String].collect().toSet
    assert(labels.subsetOf(Set("en", "es", "fr", "de", "zh", "und")))
  }

  test("quality features are bounded and consistent") {
    val q = TextAnalysis.quality(docs).collect()
    q.foreach { r =>
      assert(r.getAs[Double]("punct_ratio") >= 0 && r.getAs[Double]("punct_ratio") <= 1)
      assert(r.getAs[Double]("stopword_ratio") >= 0 && r.getAs[Double]("stopword_ratio") <= 1)
      assert(r.getAs[Int]("n_words") >= 0)
    }
  }

  test("multimodal: decode verifies the md5 header and round-trips the payload") {
    val wm = Multimodal.withSyntheticMedia(docs.limit(50))
    val meta = Multimodal.mediaMetaColumns(wm).collect()
    meta.foreach { r =>
      assert(r.getAs[Int]("media_bytes") > 16)
      assert(r.getAs[String]("header_hex").length == 8)
    }
    val original = docs.limit(50).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val d1 = Multimodal.decode(spark, wm).collect().sortBy(_.doc_id)
    val d2 = Multimodal.decode(spark, wm).collect().sortBy(_.doc_id)
    assert(d1.toSeq == d2.toSeq) // deterministic
    assert(d1.length == 50)
    d1.foreach { m =>
      assert(m.header_ok == 1, s"checksum failed for doc ${m.doc_id}")
      assert(m.decoded_text == original(m.doc_id)) // payload round-trips
      assert(m.media_bytes == m.payload_bytes + 16)
      assert(m.payload_md5.matches("[0-9a-f]{32}"))
    }
    // corrupted header → header_ok = 0, payload still decodes
    import org.apache.spark.sql.functions.{concat, expr, substring}
    val corrupt = wm.withColumn("media",
      concat(expr("X'00000000'"), substring(col("media"), 5, Int.MaxValue)))
    val dc = Multimodal.decode(spark, corrupt).collect()
    assert(dc.forall(_.header_ok == 0))
    assert(dc.map(m => m.doc_id -> m.decoded_text).toMap == original)
    // truncated container (< 16 bytes) → degraded row, no throw
    val trunc = wm.withColumn("media", substring(col("media"), 1, 7))
    val dt = Multimodal.decode(spark, trunc).collect()
    assert(dt.forall(m => m.header_ok == 0 && m.payload_md5 == null
      && m.decoded_text == null && m.media_bytes == 7))
  }

  test("cosine kernels: ragged vector pair → null, not out-of-bounds garbage") {
    import graft.functions.GraftFunctions
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), Seq(1.0f, 0.0f, 0.0f)), // aligned
      (2L, Seq(1.0f, 0.0f, 0.0f), Seq(1.0f, 0.0f)),       // b truncated
      (3L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f, 0.0f))        // b longer
    ).toDF("id", "a", "b")
      .select(col("id"),
        GraftFunctions.cosine_sim(col("a"), col("b")).as("cos"),
        GraftFunctions.cosine_quantized(col("a"), col("b")).as("cosq"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(df(1L) == ((Some(1.0), Some(1.0))))
    assert(df(2L) == ((None, None)))
    assert(df(3L) == ((None, None)))
  }

  test("ngram jaccard: pair with J exactly at the threshold survives the length prune") {
    // |A| = 20 distinct words, B = 11 of them: J = 11/20 = 0.55. The
    // length filter computes 0.55 * 20 = 11.000000000000001 — without
    // the ε guard the candidate is pruned BEFORE verification and an
    // exactly-at-threshold pair that the oracle emits goes missing.
    val wordsA = (1 to 20).map(i => f"w$i%02d")
    val a = wordsA.mkString(" ")
    val b = wordsA.take(11).mkString(" ")
    val df = Seq((1L, a), (2L, b)).map { case (id, t) => (id, t, "en", 50) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val pairs = Dedup.ngramJaccard(df, threshold = 0.55).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("near-dup groups closure runs on the REP graph: few edges, few iterations") {
    // round 3 fed member→rep star edges into the CC loop (51 s in the
    // driver bench — 36% of the suite); the rep-graph design keeps the
    // loop input to rep-level pairs only, so the corpus query's
    // closure converges in a handful of driver-serial iterations
    val (groups, stats) =
      Dedup.nearDupGroupsWithStats(spark, docs, n = 1, threshold = 0.5)
    assert(groups.count() == docs.count())
    assert(stats.iterations <= 4,
      s"rep-graph closure should converge fast, took ${stats.iterations}: ${stats.perIterationEdges}")
    // loop input is REP pairs only: strictly below the old design's
    // star-edges + rep-pairs union (star edges alone = one per
    // non-rep member), and far below the member-pair expansion
    val repPairCount = stats.perIterationEdges.head
    val memberPairs = Dedup.ngramJaccard(docs, n = 1, threshold = 0.5).count()
    assert(repPairCount <= memberPairs,
      s"loop saw $repPairCount edges > $memberPairs member pairs — star edges leaked in?")
  }

  test("near-dup groups: 13-digit doc ids don't collide in the padded CC label space") {
    // lpad truncates over-width input — a 12-char pad would collapse
    // distinct ids 5000000000123/5000000000124 onto one CC node
    val df = Seq(
      (5000000000123L, "first distinct document body with its own words"),
      (5000000000124L, "second body sharing absolutely nothing relevant here"),
      (9999999999991L, "identical large id duplicate text body"),
      (9999999999992L, "identical large id duplicate text body")
    ).map { case (id, t) => (id, t, "en", t.length) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val g = Dedup.nearDupGroups(spark, df, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(g(5000000000123L) == ((5000000000123L, 1L, true)))
    assert(g(5000000000124L) == ((5000000000124L, 1L, true)))
    assert(g(9999999999991L) == ((9999999999991L, 2L, true)))
    assert(g(9999999999992L) == ((9999999999991L, 2L, false)))
  }

  test("simhash verify twin: single-token doc == md5 prefix; case-normalized; empty → null") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // one token: every bit's vote is 2*bit-1, so the majority fingerprint
    // IS the token hash — pins the whole bit-vote/nibble-assembly path
    val df = Seq((1L, "hello"), (2L, "  HELLO  "), (3L, ""), (4L, "hello world hello"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashVerify(df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) == Some(md5hex("hello").substring(0, 16)))
    assert(got(2L) == got(1L), "tokenization lowercases and trims")
    assert(got(3L) == None, "no tokens → no fingerprint")
    // doubled 'hello' outvotes single 'world' on every disagreeing bit
    assert(got(4L) == got(1L), "token multiplicity weights the vote")
  }

  test("simhash PAIRS verify twin never down-samples: identical-boilerplate cliques keep every pair") {
    // the twin's contract is cross-engine EXACTNESS (the DuckDB oracle
    // does the full slice self-join), so a mega slice must spread over
    // salts, never lose members — even when the caller's bounds carry
    // a small megaCap (regression: the twin once used the bounds as-is)
    val n = 30
    val clique = (1L to n.toLong).map(i => (i, "common boilerplate text"))
    val lone = Seq((100L, "utterly unrelated zebra quartz"))
    val df = (clique ++ lone).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsVerify(df, maxHamming = 3,
      bounds = Dedup.BlockBounds(maxBlockSize = 4, megaCap = 8, salts = 2))
    assert(pairs.filter(col("hamming") === 0).count() == n * (n - 1) / 2,
      "every identical-fingerprint pair must survive")
  }

  test("winnow verify twin: md5-window min matches an independent JVM computation; short docs null") {
    val text = "The   quick Brown fox jumps over the lazy dog"
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = (0 to norm.length - 16).map(i => md5hex(norm.substring(i, i + 16))).min
    val df = Seq((1L, text), (2L, "short text")).toDF("doc_id", "text")
    val got = TextAnalysis.winnowVerify(df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L) == Some(expected))
    assert(got(2L) == None, "docs shorter than the window have no fingerprint")
  }

  test("fingerprints: md5 matches a reference value; winnow is shift-robust-ish") {
    val one = Seq((1L, "Hello  World")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(one).head()
    // md5("hello world")
    assert(fp.getString(1) == "5eb63bbbe01eeed093cb22bb8f5acdc3")
  }
}
