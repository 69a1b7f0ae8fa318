package graft

import graft.jobs.ResolveJob
import graft.sources.DocCorpus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * 1. Times every `SparkEntry.queries` entry on `SPARK_GRAFT_SF_DIR`
  *    at `SPARK_GRAFT_CPUS` (driver contract).
  * 2. Runs the ER resolve job on the same deterministic synthetic
  *    interleaved-doc corpus at two cluster sizes — N = 1 and 4N = 4
  *    cores — and reports docs/s at each plus scaling efficiency
  *    `eff = (tN/t4N)/4` (the north rule's criterion). Protocol,
  *    hardened in round 3 (derivation with every intermediate
  *    measurement in BASELINE.md):
  *    - Each level runs in a FRESH forked JVM (a real N-vs-4N
  *      comparison is two separate spark-submit clusters; sharing one
  *      JVM let the first level's heap/JIT state swing the second by
  *      ±100 s), pinned with `taskset` to N+1 CPUs — N worker cores
  *      plus one driver core (container semantics; unpinned, the
  *      small level borrows the host's ~30 idle cores for GC/JIT and
  *      measures a machine no small cluster resembles).
  *    - IDENTICAL job config at both levels — same shuffle partitions
  *      (16), same salts, same JVM flags (ParallelGC: batch pipeline)
  *      — one spark-submit config, two cluster sizes. Round 2 scaled
  *      shuffle partitions with the core count, which handicapped the
  *      small level (2 coarse partitions → skew + spill: 500 s where
  *      16 partitions run 296 s) and thereby INFLATED efficiency;
  *      retracted.
  *    - Levels 1 and 4 keep the host's shared DRAM bus unsaturated
  *      (8+ concurrent threads cap memory-bound stages at ~2×:
  *      t_local8 > t_local4 on identical input — a real cluster adds
  *      a memory bus per executor, this box does not).
  *    - The reported ratio is a LOWER BOUND on real-cluster scaling:
  *      inside one JVM the 4 task threads share one allocation
  *      path/eden and per-core work inflates ~30% (ALU, DRAM-stream
  *      and random-walk microbenches all scale ≥3.96× on this host
  *      while every local[4] pipeline stage sits at ~3×) — separate
  *      executor JVMs on a real cluster never pay that. The literal
  *      multi-executor shape (local-cluster: separate executor JVM
  *      processes, netty shuffle) is also implemented
  *      (SPARK_GRAFT_SCALE_TOPOLOGY=multi-jvm) and measured in
  *      BASELINE.md as the shape-check.
  *    The run uses the sort-merge scoring path (broadcast's shared
  *    hash relation anti-scales past ~8 probe threads, and SMJ is the
  *    only path at 10^12 docs). Each level is preceded by an untimed
  *    warmup resolve so janino codegen compilation (driver-serial,
  *    identical at any cluster size) doesn't pollute the measurement.
  *
  * Output contract (round 5): the query-suite JSON line is printed
  * IMMEDIATELY after the query loop — before any scaling fork — so a
  * driver timeout can never lose completed timings again (round 4's
  * end-of-run-only print did exactly that, rc 124 → no bench sample).
  * When scaling completes within `SPARK_GRAFT_BENCH_BUDGET_S`
  * (default 2100 s), the same line is re-emitted with the `scaling`
  * block merged in — last complete JSON line wins.
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session for one scaling level. Default topology is single-JVM
    * `local[N]`; `SPARK_GRAFT_SCALE_TOPOLOGY=multi-jvm` stands up a
    * real standalone cluster on this box instead —
    * `local-cluster[N,1,mem]`: N separate single-core executor JVM
    * processes (own heap, own GC, netty shuffle), driver apart — the
    * literal shape the north rule names ("spark-submit, N executors").
    * Both were measured (BASELINE.md): the multi-JVM topology is shape-
    * faithful but on ONE box N+1 JVMs × (netty event loops, heartbeat,
    * shuffle-client threads) contend for the same N+1 pinned CPUs that
    * a real cluster provisions per NODE, so it under-reports both
    * levels; the single-JVM numbers are the reported protocol, with
    * the multi-JVM run documented as the shape-check. Either way the
    * per-executor-JVM contention measured in the single JVM (shared
    * eden/allocation path: per-core work inflates ~30% at N=4 while
    * ALU / DRAM-stream / random-walk microbenches all scale ≥3.96×)
    * does not exist on a real cluster — the one-box ratio is a LOWER
    * BOUND on real N→4N executor scaling.
    */
  private def scaleSession(cpus: Int): SparkSession = {
    if (!sys.env.get("SPARK_GRAFT_SCALE_TOPOLOGY").contains("multi-jvm"))
      return session(cpus)
    val workerMem = sys.env.getOrElse("SPARK_GRAFT_WORKER_MEM_MB", "7168")
    val classesDir = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local-cluster[$cpus,1,$workerMem]")
      .appName(s"graft-scale-$cpus")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "16"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
      .config("spark.executor.extraClassPath", classesDir)
      // each executor is a 1-core container: size its GC/JIT/netty
      // pools for ONE cpu (otherwise every executor JVM sees the whole
      // pinned set and N executors × ~5 GC threads thrash it)
      .config("spark.executor.extraJavaOptions",
        "-XX:ActiveProcessorCount=1 -XX:+UseParallelGC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Full resolve (normalize → block → score → CC → assemble) over the
    * synthetic corpus; returns (docs, seconds).
    */
  private def timedResolve(cpus: Int, nEntities: Long): (Long, Double, Double) = {
    val spark = scaleSession(cpus)
    val cfg = ResolveJob.Config(
      blocking = graft.blocking.Blocking.Config(salts = math.max(4, cpus)),
      numberEntities = false,
      broadcastFeatures = Some(false))
    try {
      // warmup: populates the JVM-wide generated-code cache so the
      // timed run measures data-parallel work, not driver compilation
      ResolveJob.run(spark, DocCorpus.synthetic(spark, 2000, seed = 7L).toDF(), cfg)
        .entities.write.mode("overwrite").format("noop").save()
      val docs = DocCorpus.synthetic(spark, nEntities).toDF()
      val t0 = System.nanoTime()
      val result = ResolveJob.run(spark, docs, cfg)
      val tResolve = (System.nanoTime() - t0) / 1e9
      val nDocs = result.assignments.count()
      val tW0 = System.nanoTime()
      result.entities.write.mode("overwrite").format("noop").save()
      val tWrite = (System.nanoTime() - tW0) / 1e9
      val secs = (System.nanoTime() - t0) / 1e9
      // per-stage wall decomposition — diffed across levels to locate
      // the non-scaling (driver-serial) component
      val stages = result.stageMillis
        .map { case (k, ms) => f"$k=${ms / 1000.0}%.1f" }.mkString(",")
      val gcSec = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum / 1000.0
      }
      println(f"STAGEMS cpus=$cpus resolve=$tResolve%.1f write=$tWrite%.1f gc=$gcSec%.1f $stages")
      (nDocs, secs, DocCorpus.syntheticPairF1(result.assignments)._3)
    } finally spark.stop()
  }

  /** Run one scaling level in a FRESH JVM. A real N-vs-4N comparison is
    * two separate spark-submit clusters; sharing one JVM lets the first
    * level's heap/JIT/GC state pollute the second (observed: ±100 s
    * swings on the level that runs second). The child re-enters this
    * main in `scale-run` mode and prints one machine-readable line.
    */
  private def forkScaleRun(cpus: Int, nEntities: Long): (Long, Double, Double) = {
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // pin the child to cpus+1 CPUs (cluster semantics): the north rule
    // counts N EXECUTORS — the driver runs on its own node in any real
    // spark-submit deployment — so each level gets its executor cores
    // plus one driver core. Without pinning at all, the small level
    // borrows the host's ~30 idle cores for GC/JIT and measures a
    // machine no N-core cluster resembles.
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists)
        Seq("/usr/bin/taskset", "-c", s"0-$cpus")
      else Seq.empty
    val cmd = pin ++ Seq(javaBin) ++ opens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "12g")}",
      // batch pipeline → throughput collector (same flag at BOTH
      // levels; measured 8-9% over the G1 default at local[4])
      "-XX:+UseParallelGC",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"),
      "graft.Bench", "scale-run", cpus.toString, nEntities.toString)
    import scala.sys.process._
    val out = new StringBuilder
    // identical job config at every level: one spark-submit config,
    // two cluster sizes (overridable for protocol experiments)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "16")
    // local-cluster's executor launcher needs a SPARK_HOME layout and
    // an explicit scala version to build the executor command line
    val lcEnv = Seq("SPARK_HOME" -> sys.env.getOrElse("SPARK_HOME", "/opt/spark"),
      "SPARK_SCALA_VERSION" -> "2.13")
    val code = Process(cmd, None,
      (("SPARK_GRAFT_SHUFFLE" -> shuffle) +: lcEnv): _*).!(ProcessLogger(
      l => {
        out.append(l).append('\n')
        if (l.startsWith("STAGEMS")) println(l) // surface the per-stage decomposition
        ()
      }, _ => ()))
    require(code == 0, s"forked scale run (local[$cpus]) exited $code")
    val line = out.toString.linesIterator
      .find(_.startsWith("SCALERUN "))
      .getOrElse(sys.error(s"no SCALERUN line from local[$cpus] child"))
      .stripPrefix("SCALERUN ")
    val p = line.split(",")
    (p(0).toLong, p(1).toDouble, p(2).toDouble)
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 3 && args(0) == "scale-run") {
      val (docs, secs, f1) = timedResolve(args(1).toInt, args(2).toLong)
      println(f"SCALERUN $docs,$secs%.2f,$f1%.4f")
      return
    }
    val wall0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val scaleN = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTITIES", "200000").toLong
    val skipScaling = sys.env.contains("SPARK_GRAFT_SKIP_SCALING")
    // Wall-clock budget for the WHOLE bench (seconds). The round-4
    // driver run timed out (rc 124) mid-scaling with the completed
    // query-suite timings still unflushed; sized under the driver's
    // observed ~40-min window so the bench always exits cleanly with
    // whatever it finished. Remaining scaling pairs are skipped (and
    // counted in the JSON) once the budget would be exceeded.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2100").toDouble

    // --- headline queries ---
    // SPARK_GRAFT_QUERY_RUNS=k (default 1 — the driver contract):
    // per-query median of k back-to-back runs. Box-state drift between
    // single-sample runs of the same HEAD measured 1.6× on this host
    // (BENCH_r03 141.8 s vs same-day BASELINE 87.0 s); medians make
    // the committed BASELINE.md numbers the same statistic a reader
    // should compare the driver JSON against.
    val queryRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_QUERY_RUNS", "1").toInt)
    val results = if (sys.env.contains("SPARK_GRAFT_SKIP_QUERIES")) Seq.empty else {
      val spark = session(cpus)
      val r = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val samples = (1 to queryRuns).map { _ =>
          val t0 = System.nanoTime()
          val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
          ((System.nanoTime() - t0) / 1e9, n)
        }
        // median over SUCCESSFUL samples only (a failed run's elapsed is
        // time-to-exception, not query time); a failure OR a row count
        // that differs between successful runs surfaces as rows=-1 so
        // flakiness (crash or nondeterminism) can't hide behind a
        // clean median
        val ok = samples.filter(_._2 >= 0)
        val rows =
          if (ok.size == samples.size && ok.map(_._2).distinct.size == 1) ok.head._2
          else -1L
        val timed = if (ok.nonEmpty) ok else samples
        val median = timed.map(_._1).sorted.apply(timed.size / 2)
        name -> (median, rows)
      }
      spark.stop()
      r
    }

    val qs = results.map { case (k, (sec, _)) => "\"" + k + f"""\":$sec%.3f""" }
      .mkString("{", ",", "}")
    val rows = results.map { case (k, (_, n)) => "\"" + k + s"""\":$n""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    def suiteJson(scaling: String): String =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"rows":$rows,"sf":"$sfDir","cpus":$cpus$scaling}"""
    // FLUSH the query-suite line IMMEDIATELY (round 4's single
    // end-of-run print lost the completed suite when the driver's
    // timeout hit mid-scaling). If scaling completes, the same line is
    // re-emitted merged with the scaling block — a reader that takes
    // the LAST JSON line gets the superset, one that takes the FIRST
    // still gets a full query suite.
    println(suiteJson(""))

    // --- two-parallelism ER scaling run (N=1, 4N=4 cores; identical
    // job config at both levels; fresh JVM per level — see object doc).
    // MEDIAN of up to SPARK_GRAFT_SCALE_RUNS (default 3) interleaved
    // (4,1) pairs, where the wall-clock budget decides how many
    // actually run: this box's run-to-run noise on IDENTICAL code
    // measured a 48% t4 band (140.1-207.8 s) and 0.526-0.776
    // efficiency across five r4 pairs — a single sample is a coin
    // flip (a default-env rehearsal measured 0.544 on a HEAD whose
    // three-pair median is 0.704), the median is a statistic. Pairs
    // are interleaved (not 3×t4 then 3×t1) so slow box drift hits
    // both levels alike. Pairs whose projected cost exceeds the
    // budget are skipped and counted in the JSON — requesting 3 with
    // the default 2100 s budget typically completes 2 on this box
    // (~13 min/pair after a ~2-4 min suite), never times out.
    if (!skipScaling) {
      val scaleRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt)
      // budget check uses the observed cost of completed pairs (first
      // pair always runs: a bench with zero scaling samples can't
      // evidence the north rule's criterion at all)
      var pairSec = 0.0
      val pairs = (1 to scaleRuns).flatMap { i =>
        if (i > 1 && elapsedSec + pairSec > budgetSec) None
        else {
          val p0 = System.nanoTime()
          val (nDocs4N, t4N, f14N) = forkScaleRun(4, scaleN)
          val (nDocsN, tN, f1N) = forkScaleRun(1, scaleN)
          pairSec = math.max(pairSec, (System.nanoTime() - p0) / 1e9)
          require(nDocsN == nDocs4N && f1N == f14N) // parallelism-invariant
          Some((nDocsN, tN, t4N, f1N, (tN / t4N) / 4.0))
        }
      }
      val done = pairs.size
      // proper medians per scalar (even counts average the middle two —
      // picking pairs(done/2) on two samples would report the BETTER of
      // the two efficiencies, which flatters); docs and f1 are
      // pair-invariant by the require above
      def med(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
      val effs = pairs.map(_._5).sorted
      val nDocsN = pairs.head._1
      val f1N = pairs.head._4
      val tN = med(pairs.map(_._2))
      val t4N = med(pairs.map(_._3))
      val eff = med(pairs.map(_._5))
      val thrN = nDocsN / tN
      val thr4N = nDocsN / t4N
      val effList = effs.map(e => f"$e%.3f").mkString("[", ",", "]")
      val scaling =
        f""","scaling":{"docs":$nDocsN,"levels":"local[1] vs local[4], fresh JVM per level pinned to N+1 CPUs, identical config (shuffle=16, ParallelGC); one-box lower bound on real N-vs-4N executor scaling; derivation in BASELINE.md","runs_requested":$scaleRuns,"runs_completed":$done,"efficiency_runs":$effList,"t_n1_sec":$tN%.2f,"t_n4_sec":$t4N%.2f,"docs_per_sec_1":$thrN%.0f,"docs_per_sec_4":$thr4N%.0f,"efficiency":$eff%.3f,"synthetic_pair_f1":$f1N%.4f}"""
      println(suiteJson(scaling))
    }
  }
}
