package graft.tools

import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level wall-clock + precision/recall breakdown of the engine's
  * batch resolve (ResolveJob.run, default Config) on the synthetic
  * corpus — the profiling harness behind the scaling bench's headline
  * number.
  *
  * Environment: `SCALE_EVAL_ENTITIES` (default 200000 entities, ~2 docs
  * each) and `SCALE_EVAL_CORES` (default 16; local[N], N shuffle
  * partitions).
  */
object ScaleEval {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SCALE_EVAL_ENTITIES", "200000").toLong
    val cores = sys.env.getOrElse("SCALE_EVAL_CORES", "16").toInt
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    def resolve(docs: DataFrame): ResolveJob.Result = {
      val r = ResolveJob.run(spark, docs)
      // the final entity report is lazy: force every column of it
      r.entities.write.mode("overwrite").format("noop").save()
      r
    }

    // warm-up: JIT, class loading and the session's first-job costs.
    // It does not leave the timed run's generated code compiled: the
    // JVM-wide codegen cache holds 100 classes by default
    // (spark.sql.codegen.cache.maxEntries) and a resolve compiles ~230
    // (224 classes at 2000 entities, 234 at 20000, 4 cores), so the
    // timed run recompiles its classes as it goes
    val tWarm = System.nanoTime()
    resolve(DocCorpus.synthetic(spark, 2000, seed = 7L).toDF())
    println(f"[stage] warmup             ${secs(tWarm)}%8.1f s")

    val t0 = System.nanoTime()
    val r = resolve(DocCorpus.synthetic(spark, n).toDF())
    r.stageMillis.foreach { case (stage, ms) =>
      println(f"[stage] $stage%-18s ${ms / 1e3}%8.1f s")
    }
    println(f"[stage] total              ${secs(t0)}%8.1f s")
    r.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"  $k: $v") }
    println(s"  cc per-iteration edges: ${r.ccStats.perIterationEdges.mkString(",")}")

    // false merges per MATCH_KEY: RESOLVED edges whose two docs belong
    // to different ground-truth entities
    val truth = r.docs.select(col("doc_id"), DocCorpus.syntheticTruth(col("doc_id")).as("t"))
    r.edges.filter(col("level") === "RESOLVED")
      .join(truth.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(truth.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .groupBy("match_key")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ta") =!= col("tb"), 1).otherwise(0)).as("false_n"))
      .orderBy(col("false_n").desc)
      .show(25, truncate = false)

    val (p, rec, f1) = DocCorpus.syntheticPairF1(r.assignments)
    println(f"precision=$p%.4f recall=$rec%.4f f1=$f1%.4f")
    spark.stop()
  }
}
