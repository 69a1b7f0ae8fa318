package erbench

import erbench.Common._
import graft.assemble.Assemble
import graft.blocking.Blocking
import graft.cluster.ConnectedComponents
import graft.jobs.{ExportJob, ResolveJob}
import graft.normalize.Normalize
import graft.ops.Dedup
import graft.score.{Ambiguity, Generic, Scoring}
import graft.sources.DocCorpus
import graft.util.Confs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch resolve of a synthetic corpus into the full JSONL entity
  * export: ResolveJob.run → Assemble.toExportJson → ExportJob.write.
  */
final class ResolveBatch(spark: SparkSession, work: String, seed: Long, entities: Long)
    extends Workload {

  private val docsPath = s"$work/resolve_docs"
  private val outDir = s"$work/resolve_out"
  private val warmUpPath = s"$work/resolve_warm_up"
  private val WarmUpEntities = 150L
  private var nDocs = 0L

  def docsPerOp: Long = nDocs
  def repeatable: Boolean = true

  def generate(): Unit = {
    DocCorpus.synthetic(spark, entities, seed).toDF()
      .write.mode("overwrite").parquet(docsPath)
    nDocs = spark.read.parquet(docsPath).count()
  }

  /** Warm-up: one untimed, unchecked operation on a small corpus. Janino
    * caches generated classes by source, so the timed operations reuse
    * the code the warm-up compiled.
    */
  def prepare(traced: Boolean): Unit = {
    DocCorpus.synthetic(spark, WarmUpEntities, seed + 1).toDF()
      .write.mode("overwrite").parquet(warmUpPath)
    deleteDir(resolve(spark.read.parquet(warmUpPath), "warm-up")._2)
  }

  private def docs: DataFrame = spark.read.parquet(docsPath)

  private def resolve(input: DataFrame, exportId: String): (DataFrame, String) = {
    val res = ResolveJob.run(spark, input)
    (res.assignments, ExportJob.write(Assemble.toExportJson(res.entities), outDir, exportId,
      ExportJob.Full))
  }

  def op(i: Int): OpOutcome = {
    val t0 = System.nanoTime()
    val (assignments, path) = resolve(docs, s"op$i")
    check(seconds(t0), assignments, path)
  }

  private def check(wall: Double, assignments: DataFrame, path: String): OpOutcome = {
    val lines = spark.read.text(path).count()
    val (covered, ents, hash) = assignmentSummary(assignments)
    val f1 = pairF1(assignments.select(col("entity_id").as("pred"),
      synthTruth(col("doc_id")).as("truth")))
    deleteDir(path)
    OpOutcome(wall, hash, f1, Seq(
      "export lines == distinct entities" -> (lines == ents),
      "assignments cover every doc" -> (covered == nDocs),
      "pair_f1 >= 0.99" -> (f1 >= 0.99)))
  }

  /** ResolveJob.runInner's composition, one span per layer, with the
    * same stage boundaries and conf windows.
    */
  def traced(i: Int, tr: Tracer): OpOutcome = {
    val cfg = ResolveJob.Config()
    val t0 = System.nanoTime()
    val r = Confs.withConfs(spark)("spark.sql.constraintPropagation.enabled" -> "false") {
      val d = tr.span("sources")(docs)
      tr.addRows("sources", nDocs)
      def stage(layer: String, df: => DataFrame, extras: (String, org.apache.spark.sql.Column)*) = {
        val (out, m) = checkpoint(df, extras: _*)
        tr.addRows(layer, m("rows"))
        (out, m)
      }
      val (featsRaw, _) = tr.span("normalize")(stage("normalize", Normalize.features(d)))
      val (feats, fm) = tr.span("generic")(stage("generic",
        Generic.withGenericFlags(featsRaw, cfg.generic)))
      // Blocking.candidatePairs is key hashing followed by ops.Dedup's
      // three-tier self-join; the keys are cut here so each layer runs
      // its own jobs
      val (pairs, pm) = tr.span("blocking") {
        val b = cfg.blocking
        val (keys, _) = stage("blocking", Blocking.blockingKeys(feats, b)
          .filter(col("bkey").isNotNull)
          .select(xxhash64(col("bkey")).as("bkey"), col("doc_id")))
        tr.span("dedup")(stage("dedup", Dedup.boundedSelfJoinPairs(keys, Seq("bkey"), "doc_id",
          Dedup.BlockBounds(b.maxBlockSize, b.megaCap, b.salts, b.checkpointDir))))
      }
      val resolvedCount = count(when(col("level") === "RESOLVED", 1))
      val (rawEdges, em) = tr.span("scoring") {
        Confs.withConfs(spark)("spark.sql.codegen.wholeStage" -> "false") {
          stage("scoring", Scoring.scorePairs(pairs, feats, cfg.weights,
            broadcastFeatures = fm("rows") < 3000000), "resolved" -> resolvedCount)
        }
      }
      val (edges, ambDocs, nAmb) = tr.span("ambiguity") {
        val amb = Ambiguity.suppress(rawEdges, feats)
        if (amb.firedCount == 0) (amb.edges, amb.ambiguousDocs, 0L)
        else {
          val (e, _) = stage("ambiguity", amb.edges, "resolved" -> resolvedCount)
          val (a, am) = checkpoint(amb.ambiguousDocs)
          (e, a, am("rows"))
        }
      }
      val (assign, stats) = tr.span("cluster") {
        val (a, s) = ConnectedComponents.assign(spark, feats.select("doc_id"),
          edges.filter(col("level") === "RESOLVED"), cfg.checkpointDir)
        (stage("cluster", a)._1, s)
      }
      val entities = tr.span("assemble") {
        Assemble.entities(feats, d, assign, edges, cfg.numberEntities,
          ambiguousDocs = if (nAmb == 0L) None else Some(ambDocs),
          checkpointDir = cfg.checkpointDir)
      }
      val path = tr.span("export") {
        ExportJob.write(Assemble.toExportJson(entities), outDir, s"traced$i", ExportJob.Full)
      }
      (assign, path, pairs, pm("rows"), em, stats)
    }
    val wall = seconds(t0)
    val (assign, path, pairs, nPairs, em, stats) = r
    tr.addRows("export", spark.read.text(path).count())
    tr.add("blocking.candidate_pairs", nPairs.toDouble)
    tr.add("blocking.pair_completeness", pairCompleteness(pairs))
    tr.add("scoring.resolved_share", em("resolved").toDouble / math.max(1L, em("rows")))
    tr.add("cluster.iterations", stats.iterations.toDouble)
    tr.add("cluster.edge_rows", stats.perIterationEdges.sum.toDouble)
    check(wall, assign, path)
  }

  /** True pairs among the candidates ÷ all true pairs of the corpus. */
  private def pairCompleteness(pairs: DataFrame): Double = {
    val truth = docs.select(col("doc_id"), synthTruth(col("doc_id")).as("t"))
    val all = truth.groupBy("t").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))).head().getDouble(0)
    val found = pairs.select("doc_a", "doc_b").distinct()
      .join(truth.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(truth.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .filter(col("ta") === col("tb")).count()
    if (all == 0) 1.0 else found / all
  }
}
