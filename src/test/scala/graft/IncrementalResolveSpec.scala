package graft

import graft.io.SnapshotStore
import graft.jobs.ResolveJob
import graft.model.Doc
import graft.sources.DocCorpus
import graft.streaming.IncrementalResolve
import graft.tools.FixtureEval
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming/incremental semantics: the same corpus delivered in
  * batches (any split) must resolve to the same clusters as one batch
  * run — the reference's queue is only a delivery mechanism
  * (SURVEY.md §2.1 S1).
  */
class IncrementalResolveSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def assignMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("doc_id", "entity_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def fixture = DocCorpus.fromFlatJsonl(spark, FixtureEval.CustomersPath)
  /** Needs no external fixture: ~300 docs with known ground truth. */
  private def synthetic = DocCorpus.synthetic(spark, 150, seed = 42L)

  /** Delivers `source` in two batches split after `firstBatch` docs and
    * checks the result against one batch resolve of all of it.
    */
  private def assertTwoBatchesEqualBatch(source: => Dataset[Doc], firstBatch: Int): Unit = {
    val docs = source.collect().toSeq
    val (b1, b2) = docs.splitAt(firstBatch)
    val tmp = java.nio.file.Files.createTempDirectory("incstore").toString
    val store = new SnapshotStore(tmp)

    val r1 = IncrementalResolve.processBatch(spark, store, b1.toDF())
    assert(r1.newDocs == b1.size)
    val r2 = IncrementalResolve.processBatch(spark, store, b2.toDF())
    assert(r2.newDocs == b2.size)

    val batchRun = ResolveJob.run(spark, source.toDF())
    assert(assignMap(r2.assignments) == assignMap(batchRun.assignments))
    // the same RESOLVED edges, not only the same clusters
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edgeSet(store.read(spark, "resolved")) ==
      edgeSet(batchRun.edges.filter($"level" === "RESOLVED")))
  }

  test("two incremental batches == one batch resolve (order-insensitive)") {
    assertTwoBatchesEqualBatch(fixture, 70)
  }

  test("two incremental batches == one batch resolve on the synthetic corpus") {
    assertTwoBatchesEqualBatch(synthetic, 175)
  }

  /** Delivers `source` once, then redelivers its first 30 docs. */
  private def assertRedeliveryIdempotent(source: => Dataset[Doc]): Unit = {
    val docs = source.collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("incstore2").toString
    val store = new SnapshotStore(tmp)
    val r1 = IncrementalResolve.processBatch(spark, store, docs.toDF())
    // redeliver an overlapping slice (at-least-once)
    val r2 = IncrementalResolve.processBatch(spark, store, docs.take(30).toDF())
    assert(r2.newDocs == 0)
    assert(r2.featurizedDocs == 0, "identical redelivery must not re-normalize")
    assert(r2.ccVertices == 0, "identical redelivery must not re-cluster anything")
    assert(r2.affectedEntities.count() == 0)
    assert(assignMap(r2.assignments) == assignMap(r1.assignments))
  }

  test("redelivered (duplicate) docs are idempotent") {
    assertRedeliveryIdempotent(fixture)
  }

  test("redelivered (duplicate) docs are idempotent on the synthetic corpus") {
    assertRedeliveryIdempotent(synthetic)
  }

  /** Delivers `source`, then one doc that matches nothing in it. */
  private def assertDeltaProportional(source: => Dataset[Doc]): Unit = {
    import graft.model.Span
    val docs = source.collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("incstore5").toString
    val store = new SnapshotStore(tmp)
    val r1 = IncrementalResolve.processBatch(spark, store, docs.toDF())
    assert(r1.featurizedDocs == docs.size && r1.ccVertices == docs.size)
    val extra = Doc("TEST:1", Seq(
      Span("data_source", "TEST", null, 0), Span("record_id", "1", null, 1),
      Span("name_first", "ERNEST", null, 2), Span("name_last", "HEMINGWAY", null, 3),
      Span("addr_full", "453 Orange Blossom Path, Key West FL", null, 4)))
    val r2 = IncrementalResolve.processBatch(spark, store, Seq(extra).toDF())
    assert(r2.featurizedDocs == 1, "only the delta goes through normalization")
    assert(r2.ccVertices == 1,
      s"CC must see only affected components + new docs, got ${r2.ccVertices}")
    assert(r2.assignments.count() == docs.size + 1)
    assert(assignMap(r2.assignments).view.filterKeys(_ != "TEST:1").toMap ==
      assignMap(r1.assignments), "untouched docs carry their labels verbatim")
  }

  test("batch cost is delta-proportional: +1 unrelated doc → 1 featurized doc, 1 CC vertex") {
    assertDeltaProportional(fixture)
  }

  test("batch cost is delta-proportional on the synthetic corpus") {
    assertDeltaProportional(synthetic)
  }

  test("changed-content redelivery is an UPSERT: new spans take effect") {
    import graft.model.Span
    val tmp = java.nio.file.Files.createTempDirectory("incstore4").toString
    val store = new SnapshotStore(tmp)
    def doc(id: String, last: String, phone: String) = Doc(id, Seq(
      Span("data_source", "T", null, 0), Span("record_id", id, null, 1),
      Span("name_first", "ALEX", null, 2), Span("name_last", last, null, 3),
      Span("phone_number", phone, null, 4)))
    // batch 1: A and B share nothing → two entities
    val r1 = IncrementalResolve.processBatch(spark, store,
      Seq(doc("T:A", "ZWIRN", "555-111-2222"), doc("T:B", "QUARLE", "555-999-8888")).toDF())
    assert(r1.assignments.select("entity_id").distinct().count() == 2)
    // batch 2: B REDELIVERED with changed content matching A → must merge
    val r2 = IncrementalResolve.processBatch(spark, store,
      Seq(doc("T:B", "ZWIRN", "555-111-2222")).toDF())
    assert(r2.newDocs == 1, "changed content must count as new, not duplicate")
    assert(r2.assignments.select("entity_id").distinct().count() == 1,
      "updated record must re-resolve against the corpus")
    // and the stored doc carries the NEW spans
    val storedB = store.read(spark, "docs").filter($"doc_id" === "T:B")
      .selectExpr("filter(spans, s -> s.kind = 'name_last')[0].text").head().getString(0)
    assert(storedB == "ZWIRN")
  }

  test("a new doc bridging two existing entities merges BOTH their components") {
    import graft.model.Span
    val tmp = java.nio.file.Files.createTempDirectory("incstore7").toString
    val store = new SnapshotStore(tmp)
    def doc(id: String, last: String, phone: String, email: String) = Doc(id, Seq(
      Span("data_source", "T", null, 0), Span("record_id", id, null, 1),
      Span("name_first", "CASEY", null, 2), Span("name_last", last, null, 3)) ++
      Option(phone).map(Span("phone_number", _, null, 4)) ++
      Option(email).map(Span("email_address", _, null, 5)))
    // batch 1: A matches nothing B matches nothing → two entities
    val r1 = IncrementalResolve.processBatch(spark, store, Seq(
      doc("T:A", "BRIDGEWELL", "555-123-9876", null),
      doc("T:B", "BRIDGEWELL", null, "casey@bridgewell.example")).toDF())
    assert(r1.assignments.select("entity_id").distinct().count() == 2)
    // batch 2: C shares the phone with A and the email with B — the
    // affected-subgraph CC must pull BOTH old components in and emit
    // one merged entity with one label for all three docs
    val r2 = IncrementalResolve.processBatch(spark, store, Seq(
      doc("T:C", "BRIDGEWELL", "555-123-9876", "casey@bridgewell.example")).toDF())
    val m = assignMap(r2.assignments)
    assert(m.size == 3)
    assert(m.values.toSet.size == 1, s"bridge doc must merge both components: $m")
    // and the merge is what a from-scratch batch run produces
    val batchRun = ResolveJob.run(spark, Seq(
      doc("T:A", "BRIDGEWELL", "555-123-9876", null),
      doc("T:B", "BRIDGEWELL", null, "casey@bridgewell.example"),
      doc("T:C", "BRIDGEWELL", "555-123-9876", "casey@bridgewell.example")).toDF())
    assert(m == assignMap(batchRun.assignments))
  }

  /** Delivers `source` in two batches split after `firstBatch` docs,
    * fabricates every crash state of the second batch and checks that
    * redelivering it converges to the clean result.
    */
  private def assertEveryCrashWindowRepaired(source: => Dataset[Doc], firstBatch: Int): Unit = {
    // The per-batch commit order is features_raw, blocks, edges,
    // assignments, resolved, docs. A crash leaves exactly a PREFIX of
    // that sequence committed; fabricate each possible crash state by
    // rolling back a SUFFIX of the batch-2 commits and assert that
    // redelivering batch 2 converges the store to the clean result.
    // The (docs, resolved) and (docs, resolved, assignments) windows
    // pin the assignments-BEFORE-resolved ordering: with the reverse
    // order, the resolved=new/assignments=old state made the
    // resolved-diff empty and silently mislabeled merging docs.
    val commitOrder =
      Seq("features_raw", "blocks", "edges", "assignments", "resolved", "docs")
    val docs = source.collect().toSeq
    val (b1, b2) = docs.splitAt(firstBatch)
    val cleanDir = java.nio.file.Files.createTempDirectory("incstore6_clean")
    val cleanStore = new SnapshotStore(cleanDir.toString)
    IncrementalResolve.processBatch(spark, cleanStore, b1.toDF())
    val clean = IncrementalResolve.processBatch(spark, cleanStore, b2.toDF())
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(from)
      try s.forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally s.close()
    }
    for (nRolledBack <- 1 to commitOrder.size) {
      val rollback = commitOrder.takeRight(nRolledBack)
      val tmp = java.nio.file.Files.createTempDirectory(s"incstore6_$nRolledBack").toString
      copyDir(cleanDir, java.nio.file.Paths.get(tmp))
      val store = new SnapshotStore(tmp)
      // fabricate the crash: un-publish the batch-2 manifest of every
      // table in the rolled-back suffix (publish is an atomic rename,
      // so a crash means exactly "manifest absent, older one current")
      for (table <- rollback) {
        val latest = store.snapshots(table).max
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(tmp, table, "_manifests").resolve(s"$latest.json"))
      }
      val repaired = IncrementalResolve.processBatch(spark, store, b2.toDF())
      assert(repaired.newDocs == b2.size,
        s"rollback of $rollback: docs must count as touched again")
      assert(assignMap(repaired.assignments) == assignMap(clean.assignments),
        s"rollback of $rollback: redelivery must reproduce the clean result")
      assert(assignMap(store.read(spark, "assignments")) == assignMap(clean.assignments),
        s"rollback of $rollback: committed assignments must match the clean result")
    }
  }

  test("crashed batch is repaired by redelivery — EVERY crash window in the commit order") {
    assertEveryCrashWindowRepaired(fixture, 90)
  }

  test("crashed batch is repaired by redelivery — EVERY crash window, synthetic corpus") {
    assertEveryCrashWindowRepaired(synthetic, 225)
  }

  test("documented drift: carried old↔old edges are NOT rescored when a generic flag flips") {
    // Contract pin (IncrementalResolve object doc, "Carried-edge
    // semantics"): old↔old edges keep their ingest-time score even when
    // corpus growth later flips a value's generic flag — the reference
    // behaves the same way (Senzing scores a pair once, at ingest). The
    // divergence from a from-scratch batch is deliberate and bounded to
    // the next full resolve; this spec makes it a tested contract, not
    // a surprise.
    import graft.model.Span
    val tmp = java.nio.file.Files.createTempDirectory("incstore8").toString
    val store = new SnapshotStore(tmp)
    def doc(id: String, dob: String) = Doc(s"T:$id", Seq(
      Span("data_source", "T", null, 0), Span("record_id", id, null, 1),
      Span("name_first", "ZEPHYR", null, 2), Span("name_last", "QUIRKMIRE", null, 3)) ++
      Option(dob).map(Span("date_of_birth", _, null, 4)))
    // batch 1: exact name (4.0) + exact DOB (2.0) ≥ thetaResolve → merged
    val r1 = IncrementalResolve.processBatch(spark, store,
      Seq(doc("A", "1980-05-12"), doc("B", "1980-05-12")).toDF())
    assert(assignMap(r1.assignments).values.toSet.size == 1, "pre-flip: A and B resolve")
    // batch 2: six more ZEPHYR QUIRKMIREs (no DOB) → the full name now
    // has 8 ≥ nameThreshold(7) docs and name_generic flips corpus-wide
    val extras = (1 to 6).map(i => doc(s"X$i", null))
    val r2 = IncrementalResolve.processBatch(spark, store, extras.toDF())
    val m = assignMap(r2.assignments)
    assert(m("T:A") == m("T:B"),
      "incremental: the carried pre-flip RESOLVED edge keeps A and B merged")
    // from-scratch over the same corpus: the name is generic at scoring
    // time (2.5 + 2.0 < thetaResolve) → A and B stay separate
    val bm = assignMap(ResolveJob.run(spark,
      (Seq(doc("A", "1980-05-12"), doc("B", "1980-05-12")) ++ extras).toDF()).assignments)
    assert(bm("T:A") != bm("T:B"),
      "from-scratch: post-flip rescoring splits A and B — the documented drift")
  }

  /** Streams `source` through IncrementalResolve.run in two
    * micro-batches split after `firstBatch` docs and checks the store's
    * assignments against one batch resolve.
    */
  private def assertStreamEqualsBatch(source: => Dataset[Doc], firstBatch: Int): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val docs = source.collect().toSeq
    val stream = MemoryStream[Doc]
    val tmp = java.nio.file.Files.createTempDirectory("incstore3").toString
    val q = IncrementalResolve.run(spark, stream.toDF(), tmp)
    try {
      stream.addData(docs.take(firstBatch))
      q.processAllAvailable()
      stream.addData(docs.drop(firstBatch))
      q.processAllAvailable()
    } finally q.stop()
    val store = new SnapshotStore(tmp)
    val finalAssign = store.read(spark, "assignments")
    val batchRun = ResolveJob.run(spark, source.toDF())
    assert(assignMap(finalAssign) == assignMap(batchRun.assignments))
  }

  test("structured streaming end-to-end via MemoryStream + foreachBatch") {
    assertStreamEqualsBatch(fixture, 60)
  }

  test("structured streaming end-to-end via MemoryStream + foreachBatch, synthetic corpus") {
    assertStreamEqualsBatch(synthetic, 175)
  }

  test("a batch from another session is rejected before anything is staged") {
    // foreachBatch hands over frames of the stream's cloned session: a
    // conf window opened on the outer session would not reach their plans
    val batch = DocCorpus.synthetic(spark.newSession(), 5).toDF()
    val tmp = java.nio.file.Files.createTempDirectory("incstore7").toString
    val store = new SnapshotStore(tmp)
    val e = intercept[IllegalArgumentException](
      IncrementalResolve.processBatch(spark, store, batch))
    assert(e.getMessage.contains("batch.sparkSession"))
    assert(!store.exists("docs"))
    assert(IncrementalResolve.processBatch(batch.sparkSession, store, batch).newDocs ==
      batch.count())
  }

  test("a doc_id twice in one batch ingests the same version in any row order") {
    val docs = DocCorpus.synthetic(spark, 20, seed = 23L).collect().toSeq
    val doc = docs.head
    val twin = doc.copy(spans = doc.spans.map(s =>
      if (s.kind == "primary_name_first") s.copy(text = "Zebediah") else s))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq
    val outcomes = for (order <- Seq(docs :+ twin, twin +: docs); partitions <- Seq(1, 4)) yield {
      val store = new SnapshotStore(
        java.nio.file.Files.createTempDirectory("incstore9").toString)
      val batch = spark.createDataset(spark.sparkContext.parallelize(order, partitions)).toDF()
      val r = IncrementalResolve.processBatch(spark, store, batch)
      assert(r.newDocs == docs.size)
      (rows(store.read(spark, "docs")), rows(store.read(spark, "features_raw")),
        assignMap(r.assignments))
    }
    assert(outcomes.distinct.size == 1,
      "the ingested version of a duplicated doc_id depends on row order or partitioning")
  }

  test("a steady-state batch compiles no class and leaves the factory mode unset") {
    // generated classes are compiled once per JVM (the prepared
    // projections) or not at all: a batch after the warm-up compiles none
    val docs = DocCorpus.synthetic(spark, 200, seed = 17L).collect().toSeq
    val (base, rest) = docs.splitAt(docs.size - 60)
    val tmp = java.nio.file.Files.createTempDirectory("incstore8").toString
    val store = new SnapshotStore(tmp)
    // the caller forces affectedEntities after the batch's conf window
    // has closed, so the first diff compiles its classes; every later
    // diff reuses them
    def forceAffected(r: IncrementalResolve.BatchResult): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      r.affectedEntities.write.mode("overwrite").format("noop").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    info(s"affectedEntities of the first batch compiled " +
      s"${forceAffected(IncrementalResolve.processBatch(spark, store, base.toDF()))} classes")
    for ((b, i) <- rest.grouped(30).zipWithIndex) {
      val batch = b.toDF()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val r = IncrementalResolve.processBatch(spark, store, batch)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"steady-state batch ${i + 2} compiled $compiled classes")
      assert(r.newDocs == b.size)
      val diff = forceAffected(r)
      info(s"affectedEntities of batch ${i + 2} compiled $diff classes")
      if (i > 0) assert(diff == 0, s"affectedEntities of batch ${i + 2} compiled $diff classes")
    }
    assert(!spark.conf.getAll.contains(IncrementalResolve.CodegenFactoryMode))
  }
}
