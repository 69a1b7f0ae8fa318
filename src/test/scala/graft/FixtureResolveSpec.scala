package graft

import graft.assemble.Assemble
import graft.io.{SnapshotDiff, SnapshotStore}
import graft.jobs.ResolveJob
import graft.model.{Doc, Span}
import graft.sources.DocCorpus
import graft.tools.FixtureEval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test against the reference's fixtures — the
  * north-rule correctness gate: pairwise F1 ≥ 0.99 vs the 74-entity
  * clustering of /root/reference/test/fixtures/flow-output.jsonl,
  * plus span-sequence preservation and delta/export semantics
  * (mirroring /root/reference/test/test_flow.py:82-122).
  */
class FixtureResolveSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private lazy val docs = DocCorpus.fromFlatJsonl(spark, FixtureEval.CustomersPath).toDF()
  private lazy val result = ResolveJob.run(spark, docs)
  private lazy val golden = FixtureEval.goldenClusters()

  test("pairwise F1 vs reference clustering >= 0.99") {
    val assign = result.assignments.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val (m, fp, fn) = FixtureEval.evaluate(assign, golden)
    info(f"precision=${m.precision}%.4f recall=${m.recall}%.4f f1=${m.f1}%.4f fp=${fp.size} fn=${fn.size}")
    assert(m.f1 >= 0.99, s"FP=$fp FN=$fn")
    assert(m.recall == 1.0, s"missed pairs: $fn")
  }

  test("120 records in, ~74 entities out (reference compression ratio)") {
    val n = result.assignments.select("entity_id").distinct().count()
    assert(n >= 72 && n <= 75, s"got $n clusters")
    assert(docs.count() == 120)
  }

  test("span-sequence invariant: output RECORDS carry original spans in order") {
    val outSpans = result.entities
      .select(explode(col("RECORDS")).as("r"))
      .select(col("r.DOC_ID").as("doc_id"), col("r.SPANS").as("spans"))
      .as[(String, Seq[Span])].collect().toMap
    val inSpans = docs.as[Doc].collect().map(d => d.doc_id -> d.spans).toMap
    assert(outSpans.keySet == inSpans.keySet)
    inSpans.foreach { case (id, spans) =>
      assert(outSpans(id).map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        spans.map(s => (s.kind, s.text, s.media_ref, s.offset)),
        s"span sequence changed for $id")
    }
  }

  test("interleaved media spans survive (docs ≡ 0 mod 7 carry photo spans)") {
    val withMedia = docs.as[Doc].collect().filter(_.spans.exists(_.media_ref != null))
    assert(withMedia.nonEmpty)
    assert(withMedia.forall(d => d.spans.exists(s => s.kind == "photo" && s.text == null)))
  }

  test("full export JSONL has one line per entity and is valid JSON") {
    val lines = Assemble.toExportJson(result.entities).as[String].collect()
    val nEntities = result.assignments.select("entity_id").distinct().count()
    assert(lines.length == nEntities)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.foreach { l =>
      val n = mapper.readTree(l)
      assert(n.has("RESOLVED_ENTITY") && n.get("RESOLVED_ENTITY").has("ENTITY_ID"))
    }
  }

  test("full export is deterministic: two writes produce identical bytes") {
    def writeOnce(): Array[String] = {
      val dir = java.nio.file.Files.createTempDirectory("exp").toString
      val p = graft.jobs.ExportJob.write(
        Assemble.toExportJson(result.entities), dir, "det", graft.jobs.ExportJob.Full)
      val files = new java.io.File(p).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      files.flatMap(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).split("\n")).filter(_.nonEmpty)
    }
    val a = writeOnce()
    val b = writeOnce()
    assert(a.nonEmpty && a.sameElements(b))
    // ordered by ENTITY_ID (fixture ids ascend; export order is pinned)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ids = a.map(l => mapper.readTree(l).get("RESOLVED_ENTITY").get("ENTITY_ID").asLong())
    assert(ids.sameElements(ids.sorted))
  }

  test("delta semantics: +1 unrelated record → exactly 1 affected entity; rerun → empty") {
    val tmp = java.nio.file.Files.createTempDirectory("snapstore").toString
    val store = new SnapshotStore(tmp)
    store.commit(result.assignments, "assignments")

    // the reference's add_1_record.py analog (dev-scripts/add_1_record.py)
    val extra = Seq(Doc("TEST:1", Seq(
      Span("data_source", "TEST", null, 0),
      Span("record_id", "1", null, 1),
      Span("name_first", "ERNEST", null, 2),
      Span("name_last", "HEMINGWAY", null, 3),
      Span("addr_full", "453 Orange Blossom Path, Key West FL", null, 4)))).toDF()
    val result2 = ResolveJob.run(spark, docs.unionByName(extra))
    store.commit(result2.assignments, "assignments")

    val s0 = store.read(spark, "assignments", Some(1))
    val s1 = store.read(spark, "assignments", Some(2))
    val affected = SnapshotDiff.affectedEntities(s0, s1).as[String].collect()
    assert(affected.toSeq == Seq("TEST:1"), s"affected=$affected")
    assert(SnapshotDiff.affectedEntities(s1, s1).count() == 0)
    assert(s1.select("entity_id").distinct().count() ==
      s0.select("entity_id").distinct().count() + 1)

    // delta export: affected ids → entity payloads (J5 semantics);
    // assembly input is the FILTERED assignment set, not a post-filter
    val delta = graft.jobs.ExportJob.export(spark, store, result2,
      graft.jobs.ExportJob.Delta(1, 2))
    val lines = delta.collect().map(_.getString(0))
    assert(lines.length == 1)
    assert(lines.head.contains("\"HEMINGWAY"))
  }

  test("resume: a restarted run reuses committed stage snapshots") {
    val root = java.nio.file.Files.createTempDirectory("resumestore").toString
    val cfg = ResolveJob.Config(snapshotRoot = Some(root))
    val r1 = ResolveJob.run(spark, docs, cfg)
    assert(r1.resumedStages.isEmpty)
    val a1 = r1.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet

    // full restart: every stage resumes from its snapshot
    val r2 = ResolveJob.run(spark, docs, cfg)
    assert(r2.resumedStages.toSet ==
      Set("docs", "features_raw", "features", "pairs", "edges_raw", "edges",
        "ambiguous_docs", "assignments"))
    val a2 = r2.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a1 == a2)

    // partial restart: drop the last two stages → only they recompute
    def rmTable(t: String): Unit = {
      val dir = java.nio.file.Paths.get(root, t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    rmTable("edges"); rmTable("assignments")
    val r3 = ResolveJob.run(spark, docs, cfg)
    assert(r3.resumedStages.toSet ==
      Set("docs", "features_raw", "features", "pairs", "edges_raw", "ambiguous_docs"))
    val a3 = r3.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a1 == a3)

    // per-partition lineage rows were committed alongside each stage
    val store = new SnapshotStore(root)
    val lineage = store.read(spark, "_lineage_edges")
    assert(lineage.columns.toSet == Set("partition_id", "rows", "stage"))
    assert(lineage.agg(sum("rows")).head().getLong(0) == r3.edges.count())
  }

  test("durable path: snapshotRoot + checkpointDir resolve is byte-identical to default") {
    // Job-level composition of BOTH durability knobs: stage outputs as
    // atomic snapshots AND the candidate join's tier frames as durable
    // parquet (threaded ResolveJob.Config.checkpointDir →
    // Blocking.Config → Dedup.BlockBounds). The tier-frame equality is
    // OpsSpec-pinned; this pins the full-resolve composition.
    val root = java.nio.file.Files.createTempDirectory("durroot").toString
    val ckpt = java.nio.file.Files.createTempDirectory("durckpt").toString
    val durable = ResolveJob.run(spark, docs,
      ResolveJob.Config(snapshotRoot = Some(root), checkpointDir = Some(ckpt)))
    val defLines = Assemble.toExportJson(result.entities)
      .collect().map(_.getString(0)).sorted.toSeq
    val durLines = Assemble.toExportJson(durable.entities)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(durLines == defLines, "durable-path export differs from default path")
    val aDef = result.assignments.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val aDur = durable.assignments.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(aDef == aDur)
    // the durable run actually wrote tier snapshots under its appId dir
    val appDir = java.nio.file.Paths.get(ckpt, spark.sparkContext.applicationId)
    assert(java.nio.file.Files.exists(appDir),
      s"no per-app tier snapshot dir under $ckpt")
    // r6: EVERY eager materialization on the durable path is a parquet
    // snapshot now — the assembly docs/entries frames and the CC
    // assignments frame included (an executor loss mid-assembly used
    // to kill their localCheckpoint blocks)
    import scala.jdk.CollectionConverters._
    val tierDirs = java.nio.file.Files.list(appDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(tierDirs.exists(_.contains("asm_docs")), s"no asm_docs snapshot in $tierDirs")
    assert(tierDirs.exists(_.contains("cc_assignments")),
      s"no cc_assignments snapshot in $tierDirs")
  }

  test("durable path: nearDupGroups with checkpointDir is byte-identical to default") {
    // the r6 durable threading for the dedup-groups composition: rep
    // map, rep sets, tier frames, CC iterations + assignments and the
    // group labels all become parquet snapshots, outputs unchanged
    val ckpt = java.nio.file.Files.createTempDirectory("ddckpt").toString
    val corpus = (0 until 60).map { i =>
      val base = s"shared boilerplate tokens alpha beta gamma delta run$i"
      (i.toLong, if (i % 3 == 0) base + " extra" else base, "en", "synth",
        base.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint(true)
    val dflt = graft.ops.Dedup.nearDupGroups(spark, corpus, n = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val dur = graft.ops.Dedup.nearDupGroups(spark, corpus, n = 1, threshold = 0.5,
      checkpointDir = Some(ckpt))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(dur == dflt, "durable nearDupGroups differs from default")
    import scala.jdk.CollectionConverters._
    val appDir = java.nio.file.Paths.get(ckpt, spark.sparkContext.applicationId)
    assert(java.nio.file.Files.exists(appDir), s"no tier snapshots under $ckpt")
    val dirs = java.nio.file.Files.list(appDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(dirs.exists(_.contains("ngram_doc2rep")) &&
      dirs.exists(_.contains("ngram_groups")), s"missing dedup snapshots: $dirs")
    // the dedup path consumes the CC assignments exactly once, so no
    // cc_assignments snapshot is written here — the fixpoint frames
    // (cc_iter_*) are durable and the labeling recomputes from them;
    // the ResolveJob durable test above covers the materialized case
    assert(dirs.exists(_.contains("cc_iter")), s"no CC iteration snapshot: $dirs")
  }

  test("resume: committed snapshots re-read byte-identically") {
    val tmp = java.nio.file.Files.createTempDirectory("snapstore2").toString
    val store = new SnapshotStore(tmp)
    store.commit(result.assignments, "assignments")
    val again = store.read(spark, "assignments")
    assert(again.exceptAll(result.assignments).count() == 0)
    assert(result.assignments.exceptAll(again).count() == 0)
  }

  test("deterministic entity ids: entity_id is the min member doc_id") {
    val bad = result.assignments.groupBy("entity_id")
      .agg(min("doc_id").as("min_doc"))
      .filter(col("entity_id") =!= col("min_doc"))
    assert(bad.count() == 0)
  }

  test("quarantine: records missing required keys are dead-lettered, not dropped") {
    val tmp = java.nio.file.Files.createTempFile("bad", ".jsonl")
    java.nio.file.Files.writeString(tmp,
      "{\"DATA_SOURCE\":\"X\",\"RECORD_ID\":\"1\"}\n{\"DATA_SOURCE\":\"X\"}\nnot json\n")
    assert(DocCorpus.fromFlatJsonl(spark, tmp.toString).count() == 1)
    assert(DocCorpus.quarantineFromFlatJsonl(spark, tmp.toString).count() == 2)
  }

  test("quarantine: nested values and over-long numeric ids never crash the read") {
    val tmp = java.nio.file.Files.createTempFile("edge", ".jsonl")
    java.nio.file.Files.writeString(tmp,
      // nested object value → flat-record contract violated → quarantine
      "{\"DATA_SOURCE\":\"X\",\"RECORD_ID\":\"1\",\"ADDR\":{\"city\":\"LV\"}}\n" +
        // 20-digit RECORD_ID: rid.toLong would overflow; record reads
        // fine, just no synthetic media span
        "{\"DATA_SOURCE\":\"X\",\"RECORD_ID\":\"12345678901234567890\"}\n")
    val good = DocCorpus.fromFlatJsonl(spark, tmp.toString).collect()
    assert(good.length == 1)
    assert(good.head.doc_id == "X:12345678901234567890")
    assert(!good.head.spans.exists(_.kind == "photo"))
    assert(DocCorpus.quarantineFromFlatJsonl(spark, tmp.toString).count() == 1)
  }

  test("ENTITY_NAME two-stage rollup ≡ frequency-join formulation (randomized)") {
    // pins the commutation argument behind the round-5 rewrite: within
    // one normalized-name group the frequency is constant, so
    // max-by(freq, alpha-len, -punct, doc_id) over all candidates
    // equals the max over per-group maxes of (alpha-len, -punct,
    // doc_id). One name per doc_id keeps the full key tuple tie-free,
    // so both formulations are deterministic and comparable
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val pool = Seq("anna maria", "ANNA-MARIA", "Anna Maria Aguilar",
      "mark miller", "M. Miller!", "Daniella SHAW", "daniella shaw",
      "Rob Smith", "robbie smith", "R. Smith Jr.")
    val rows = (1 to 800).flatMap { e =>
      (1 to (1 + rnd.nextInt(5))).map { d =>
        val extra = if (rnd.nextBoolean()) "" else " " + ('a' + rnd.nextInt(26)).toChar
        (f"e$e%05d", f"e$e%05d:d$d%02d", pool(rnd.nextInt(pool.size)) + extra)
      }
    }
    val cand = rows.toDF("entity_id", "doc_id", "desc")
      .withColumn("nnorm", regexp_replace(lower(col("desc")), "[^a-z ]", ""))
    val alpha = length(regexp_replace(lower(col("desc")), "[^a-z]", ""))
    val punct = -length(regexp_replace(col("desc"), "[a-zA-Z ]", ""))
    // (a) the pre-round-5 formulation: frequency join + one aggregation
    val freq = cand.groupBy("entity_id", "nnorm").agg(count(lit(1)).as("freq"))
    val joined = cand.join(freq, Seq("entity_id", "nnorm"))
      .groupBy("entity_id")
      .agg(max_by(col("desc"), struct(col("freq"), alpha, punct, col("doc_id")))
        .as("name"))
    // (b) the shipped formulation: two chained aggregations
    val perNorm = cand.groupBy("entity_id", "nnorm").agg(
      count(lit(1)).as("freq"),
      max_by(struct(alpha.as("alen"), punct.as("npunct"),
        col("doc_id").as("doc_id"), col("desc").as("desc")),
        struct(alpha, punct, col("doc_id"))).as("best"))
    val chained = perNorm.groupBy("entity_id")
      .agg(max_by(col("best.desc"), struct(
        col("freq"), col("best.alen"), col("best.npunct"), col("best.doc_id")))
        .as("name"))
    val a = joined.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = chained.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a.size == 800 && a == b,
      (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).take(5)
        .map(k => s"$k: join=${a.get(k)} chained=${b.get(k)}").mkString("; "))
  }
}
