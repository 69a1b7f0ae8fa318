package graft.cluster

import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive clustering via alternating large-star / small-star
  * connected components on a DataFrame of match edges (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SOCC'14).
  *
  * Replaces the reference's sequential consumer+redoer fixpoint
  * (/root/reference/middleware/redoer.py:105-216 — reprocess the redo
  * queue until quiescent): one batch CC pass reaches the same fixpoint
  * the queue workers approach asynchronously.
  *
  * Node ids are the doc_id STRINGS and the component label is the
  * lexicographic-min member — deterministic across runs, resumes and
  * parallelism (no monotonically_increasing_id, no 64-bit-hash
  * collision risk at 10^12 nodes).
  *
  * Scale notes:
  *  - min-per-neighborhood is a groupBy aggregate (partial map-side
  *    combine; never collects a neighborhood into one row);
  *  - each iteration is materialized (graft.util.Materialize:
  *    localCheckpoint by default, or a per-run parquet snapshot via
  *    `checkpointDir` for resumability) to truncate lineage — O(log n)
  *    iterations otherwise explode the plan;
  *  - convergence is decided from a (count, xor-hash) fingerprint
  *    OBSERVED on the checkpoint materialization itself
  *    (Dataset.observe + Observation) — zero extra actions or scans
  *    per iteration.
  */
object ConnectedComponents {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Stats(iterations: Int, perIterationEdges: Seq[Long])

  /** large-star: connect every neighbor larger than u to the min of
    * u's closed neighborhood.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
    val mins = bidir.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    bidir.filter(col("v") > col("u"))
      .join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: point every smaller-or-equal neighbor (and u itself)
    * at the min of u's smaller neighborhood.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val directed = e.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val mins = directed.groupBy("u").agg(min(col("v")).as("m"))
    val moved = directed.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
    val self = mins.select(col("u").as("src"), col("m").as("dst"))
    moved.unionAll(self)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Driver-side union-find finish over a COLLECTED frontier (bounded
    * by `localFinishEdges` rows — the caller checks the observed count
    * before entering). Union-by-size with path compression, then label
    * every node with its component min: exactly the star-shaped
    * fixpoint (node → component-min, node ≠ min) the distributed loop
    * converges to, so downstream `roots`/`assignments` code is shared.
    */
  private def localFinish(spark: SparkSession, e: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = e.select(col("src"), col("dst")).as[(String, String)].collect()
    val parent = new java.util.HashMap[String, String]()
    val sz = new java.util.HashMap[String, Int]()
    def find(x0: String): String = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path-halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    rows.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (big, small) =
          if (sz.getOrDefault(ra, 1) >= sz.getOrDefault(rb, 1)) (ra, rb) else (rb, ra)
        parent.put(small, big)
        sz.put(big, sz.getOrDefault(big, 1) + sz.getOrDefault(small, 1))
      }
    }
    val nodes = new java.util.HashSet[String]()
    rows.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    // "min" MUST mean what the distributed loop's least()/min() mean:
    // UTF8String binary order (unsigned UTF-8 bytes == code points).
    // Java String '<' is UTF-16 code-unit order, which disagrees for
    // supplementary characters (surrogates sort below U+E000..U+FFFF)
    // — labels would then depend on which phase finished the component.
    def utf8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val minOf = new java.util.HashMap[String, String]()
    nodes.forEach { n =>
      val r = find(n)
      val cur = minOf.get(r)
      if (cur == null || utf8Lt(n, cur)) minOf.put(r, n)
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    nodes.forEach { n =>
      val m = minOf.get(find(n))
      if (n != m) out += ((n, m))
    }
    spark.createDataset(out.toSeq).toDF("src", "dst")
  }

  /** @param edges DataFrame with string columns (src, dst)
    * @return (assignments DataFrame (doc_id, entity_id), stats) where
    *         entity_id = min doc_id of the component; only nodes that
    *         appear in `edges` are returned (callers union singletons).
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIterations: Int = 50,
      checkpointDir: Option[String] = None,
      localFinishEdges: Long = 100000L,
      /** Eagerly materialize the assignments result (default). Callers
        * that consume the result exactly ONCE (the dedup-groups member
        * labeling) pass false and skip one driver-serial job — the
        * lazy union+distinct then runs inside the consumer's own
        * materialization, reading the already-checkpointed (and, with
        * `checkpointDir`, durable) fixpoint frame.
        */
      materializeAssignments: Boolean = true): (DataFrame, Stats) = {

    // Per-iteration materialization MUST truncate the logical plan
    // (localCheckpoint / parquet snapshot), not merely persist: each
    // iteration references the previous frame ~16× (two self-joins of
    // two unions), so un-truncated plans grow 16^k and AQE's
    // plan-description stringification alone takes minutes by
    // iteration 4.
    /** Materialize + fingerprint in ONE pass: the (count, xor-hash)
      * convergence fingerprint rides the checkpoint job as an observed
      * metric instead of a second scan.
      */
    def checkpoint(df: DataFrame, iter: Int): (DataFrame, (Long, Long)) = {
      val m = Materialize(df, s"cc_iter_$iter", checkpointDir,
        "h" -> coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)))
      (m.df, (m.rows, m.extras("h")))
    }

    // The iteration-0 materialization executes the CALLER's entire
    // edge-production pipeline (prefix-join verify, levenshtein
    // scoring, …), so it runs under the caller's conf — with AQE ON,
    // where runtime join re-planning is worth real seconds on those
    // big multi-join subtrees (r6 measured dd_dedup_groups' initial
    // checkpoint at 7–15 s inside the former AQE-off scope vs ~3 s
    // with AQE; the loop below starts from the checkpointed narrow
    // frame either way, so iteration results are unaffected).
    // constraintPropagation stays OFF even here: LogicalRDD.
    // rewriteStatsAndConstraints is super-linear over big caller
    // plans exactly like over the iteration tree.
    val init = graft.util.Confs.withConfs(spark)(
      "spark.sql.constraintPropagation.enabled" -> "false") {
      checkpoint(
        edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct(), 0)
    }
    // AQE is scoped OFF for the iteration loop: each iteration is ~6
    // exchanges over a frame whose keys are skew-free by construction
    // (groupBy/join on node ids with blocking-capped degree; no hot
    // key can form), so AQE buys nothing here while charging per-
    // exchange materialization jobs + re-planning on every iteration —
    // measured ~0.2-0.5 s of driver-serial latency per job × ~5 jobs ×
    // iterations, identical at every cluster size.
    // constraintPropagation OFF for the loop as well: localCheckpoint's
    // LogicalRDD.rewriteStatsAndConstraints is super-linear over the
    // iteration tree (self-joins of unions multiply constraint sets),
    // and the loop materializes one such tree per iteration. ResolveJob
    // disables it job-wide, but CC is also entered directly by the
    // dedup/groups path (measured there: the fused tail's bigger tree
    // took the closure from 23 s to ~50 s until this was scoped off).
    // preferSortMergeJoin OFF for the loop (r6): each star joins the
    // bidirected edge frame against its per-node min aggregate — both
    // sides narrow 19-char-string rows — and the shuffled-hash join
    // skips SMJ's two string sorts per join (measured 0.63–1.0 s vs
    // 1.15–1.26 s per double-step on a 325k-edge clique-heavy frame,
    // OPTIMIZATION_r06.md "dd_dedup_groups"). Per-partition build
    // sides are bounded by the loop width sizing, and the planner still
    // falls back to SMJ when its size conditions fail. Join results are
    // strategy-invariant, so labels are unchanged.
    val loop = graft.util.Confs.withConfs(spark)(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.join.preferSortMergeJoin" -> "false") {
      var (e, fp) = init
      // Iteration parallelism is sized from the OBSERVED edge count
      // (the first checkpoint's fingerprint), not the cluster-wide
      // shuffle width: the edge frame is a small projection of the
      // corpus (ids only), and with AQE off a corpus-sized partition
      // count turns each ~6-exchange iteration into hundreds of
      // near-empty tasks (measured: 64 partitions cost the loop 4× at
      // 225k edges). ~250k edge-rows per task, floor 8; a configured
      // wider width wins when the edge set is genuinely huge.
      val curW = spark.conf.get("spark.sql.shuffle.partitions", "16").toInt
      val loopW = math.min(math.max(8L, fp._1 / 250000L),
        math.max(16L, curW.toLong)).toString
      graft.util.Confs.withConfs(spark)("spark.sql.shuffle.partitions" -> loopW) {
        var iter = 0
        var converged = false
        val edgeCounts = scala.collection.mutable.ArrayBuffer[Long](fp._1)
        // Two-phase finish (Kiveris SOCC'14 §6 practice): the loop's
        // tail is LATENCY-bound, not data-bound — each double-step is a
        // driver-serial job (~6 exchanges) whose fixed cost is identical
        // at every cluster size, and the edge frame collapses by orders
        // of magnitude in the first round (measured: 356k → 4.3k, then
        // FOUR more ~4.2k-edge rounds just to shave 118 edges and
        // confirm). Once the OBSERVED frontier fits an explicit bound,
        // finish with one driver-side union-find over the collected
        // frontier: same labels by construction (union-by-min ==
        // component-min), one bounded job instead of a per-round tail.
        // 100 TB stance: the collect is capped at `localFinishEdges`
        // ROWS regardless of corpus size. Driver-heap honesty: each
        // row is two ~19-char Java Strings (~80 B each w/ header) plus
        // a tuple, and the union-find keeps four id-keyed maps/sets —
        // ~0.5 KB/edge all-in, so the 100k default is ~50 MB of
        // driver objects (the old 500k default was ~250 MB — a 1g
        // default driver heap could OOM). At
        // 10^12 docs the loop still runs its distributed O(log n)
        // rounds and only the last few latency-bound rounds collapse.
        // (Per-iteration step fusion was measured first and LOST: a
        // fused double-double-step costs ~2.7× a single job on a tiny
        // frame — the fixed cost is per STAGE, not per job — and 3.4×
        // on the big first frame, where exchange reuse can't cover the
        // nested tree.)
        while (!converged && iter < maxIterations) {
          if (fp._1 > 0 && fp._1 <= localFinishEdges) {
            log.info(s"cc: local union-find finish over ${fp._1} frontier edges")
            val finished = localFinish(spark, e)
            e.unpersist()
            e = finished
            converged = true
          } else {
            iter += 1
            val (next, nfp) = checkpoint(smallStar(largeStar(e)), iter)
            converged = nfp == fp
            fp = nfp
            edgeCounts += nfp._1
            e.unpersist()
            e = next
          }
        }
        (e, iter, edgeCounts)
      }
    }
    val (e, iter, edgeCounts) = loop

    // At the fixpoint every edge is (node → component-min).
    val roots = e.select(col("dst").as("doc_id"), col("dst").as("entity_id")).distinct()
    // materialized: every caller fans this out (assign's singleton
    // anti-join + the union, the dedup closure's member labeling) and
    // a lazy result re-runs BOTH distincts per consumer — observed as
    // 4+ extra doc_id shuffles in the dd_dedup_groups plan. Narrow
    // 2-column frame, one extra job, re-scans free after it. Durable
    // (like the iteration snapshots) when a checkpointDir is configured
    // — an executor loss after the loop must not kill the labeling
    // joins (r6, VERDICT ask).
    val assignFrame = e.select(col("src").as("doc_id"), col("dst").as("entity_id"))
      .unionAll(roots)
      .distinct()
    val assignments =
      if (materializeAssignments) Materialize(assignFrame, "cc_assignments", checkpointDir).df
      else assignFrame
    (assignments, Stats(iter, edgeCounts.toSeq))
  }

  /** Full assignment over a doc universe: CC over match edges +
    * identity assignment for docs with no edges (singleton entities).
    */
  def assign(
      spark: SparkSession,
      docIds: DataFrame, // (doc_id)
      resolvedEdges: DataFrame, // (doc_a, doc_b)
      checkpointDir: Option[String] = None,
      localFinishEdges: Long = 100000L): (DataFrame, Stats) = {
    val (members, stats) = run(spark,
      resolvedEdges.select(col("doc_a").as("src"), col("doc_b").as("dst")),
      checkpointDir = checkpointDir, localFinishEdges = localFinishEdges)
    val singletons = docIds
      .join(members, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("entity_id"))
    (members.unionAll(singletons), stats)
  }
}
