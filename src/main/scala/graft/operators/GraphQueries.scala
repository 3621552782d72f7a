package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.SimilarityQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed iterative graph analytics — the engine's bulk-synchronous
  * iteration primitive. The reference has no graph surface (its star
  * schema stops at joins); at corpus scale the same shape powers the
  * web-graph importance signals real pretraining pipelines filter on
  * (page-rank-weighted crawl selection, OPIC scores).
  *
  * Scale contract: one iteration = ONE keyed shuffle (ranks ⋈ edges on
  * src, then a dst-grain aggregate); the edge table is built once,
  * localCheckpoint'ed, and re-read per iteration; rank vectors are
  * node-grain (tiny next to the corpus) and checkpointed per step so the
  * plan does not grow with the iteration count. Nothing here is ever
  * all-pairs: the co-supply edge list explodes per part over the
  * DISTINCT (part, supplier) pairs only, with per-part fanout bounded by
  * the handful of suppliers a part has.
  */
object GraphQueries extends QueryModule {

  import Tables._

  override def queries: Map[String, QueryDef] =
    graft.CacheLeases.draining(rawQueries)

  private val Damping    = 0.85
  private val Teleport   = 0.15
  private val Iterations = 3

  /** Count-gated strategy pin for NODE-GRAIN frames (out-weight sums,
    * rank vectors, label/distance vectors): the q77 pinBySize rule
    * applied to this module's broadcasts (round 15, the r14 advice
    * fix — an ungated `broadcast` of a frame that grows linearly with
    * the corpus can pressure/OOM the driver at cluster scale). Every
    * node-grain frame here is bounded by the supplier count, so ONE
    * metadata-cheap count decides the strategy for the whole query:
    * explicit broadcast under the cap, keyed shuffle-hash above it —
    * deterministic either way, and the strategy cannot change values
    * (equi-joins with order-free aggregates downstream).
    */
  private[graft] def nodePin(s: SparkSession, d: String): DataFrame => DataFrame = {
    val cap = SimilarityQueries.pinMaxRows
    val n = supplier(s, d).count()
    SimilarityQueries.pinByRows(_, n, cap)
  }

  /** The one-time co-supply edge build, normalized: distinct (part,
    * supplier) projection, bounded per-part self-join, (src, dst)
    * aggregate, exact integer-ratio out-weight normalization. This is
    * q167's heaviest stage and the staged/persisted artifact of a
    * production deployment — exposed so ScaleTrend can measure it as
    * its own growth row.
    */
  private[graft] def coSupplyEdgesNormalized(s: SparkSession, d: String): DataFrame =
    coSupplyEdgesNormalized(s, d, nodePin(s, d))

  private[graft] def coSupplyEdgesNormalized(
      s: SparkSession, d: String, pin: DataFrame => DataFrame): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    // NOTE (round 14): spreading this frame to defaultParallelism was
    // measured and REVERTED — each part's supplier clique repeats the
    // same (src, dst) pairs across parts, so the pair aggregate's
    // map-side collapse improves with FEWER, larger partitions (58.8 MB
    // of partial rows on the AQE-coalesced splits vs 178 MB at 32) —
    // the guide §2.2 block-growth effect in miniature
    val ps = lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val ew = ps.as("a")
      .join(ps.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") =!= col("b.sk"))
      .groupBy(col("a.sk").as("src"), col("b.sk").as("dst"))
      .agg(count(lit(1)).as("w"))
    // out-weight totals via a src-grain aggregate + broadcast join back
    // (round 14, guide §2.3): the window formulation re-shuffled the
    // FULL edge list by src to attach one number per src; the grouped
    // sums are node-grain and broadcast for free. Integer SUM per src
    // is identical either way. The result then partitions by dst — the
    // layout every PageRank iteration's contribution aggregate needs —
    // so the per-iteration shuffle disappears (see pagerankIterate).
    val outSums = ew.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    ew.join(pin(outSums), "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("nw"))
      .repartition(p, col("dst"))
  }

  /** `iters` bulk-synchronous PageRank steps from `r0` over a prepared
    * normalized edge table: one keyed shuffle per step, node-grain
    * state localCheckpoint'ed so plan depth stays constant. Exposed so
    * ScaleTrend can measure the per-iteration cost over a STAGED edge
    * table separately from the build.
    */
  private[graft] def pagerankIterate(
      en: DataFrame,
      base: DataFrame,
      r0: DataFrame,
      iters: Int,
      pin: DataFrame => DataFrame): DataFrame =
    (1 to iters).foldLeft(r0)((r, _) =>
      // node-grain (tiny): cut the lineage so the plan stays one
      // iteration deep however many steps run
      pagerankStep(en, base, r, pin).localCheckpoint(true))

  /** One BSP step WITHOUT the lineage cut — exposed so PlanDump can
    * show the operative subplan (the r14 dumps truncated at the
    * checkpoint's `Scan ExistingRDD`).
    */
  private[graft] def pagerankStep(
      en: DataFrame, base: DataFrame, rank: DataFrame,
      pin: DataFrame => DataFrame): DataFrame = {
    // rank is node-grain (tiny at any gated corpus size next to the
    // edge list) — pin it explicitly (count-gated broadcast) so the
    // dst-partitioned edge table is never re-shuffled and the
    // groupBy(dst) below reuses the build layout with no exchange
    // (round 14, guide §2.4/§3.1; round 15 gates the broadcast)
    val contrib = en
      .join(pin(rank), col("node") === col("src"))
      .select(col("dst"), col("src"), (col("r") * col("nw")).as("contrib"))
      .groupBy(col("dst"))
      .agg(sort_array(collect_list(struct(col("src"), col("contrib")))).as("cs"))
      .select(col("dst").as("node"),
        expr("aggregate(cs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.contrib)").as("csum"))
    base
      .join(contrib, Seq("node"), "left")
      .select(col("node"),
        (lit(Teleport) / col("nn") +
          lit(Damping) * coalesce(col("csum"), lit(0.0))).as("r"))
  }

  /** Builder-site dump frame: one un-checkpointed PageRank step over
    * the prepared edge table (see [[pagerankStep]]).
    */
  private[graft] def dumpPagerankIteration(s: SparkSession, d: String): DataFrame = {
    val pin = nodePin(s, d)
    val en = graft.CacheLeases.lease(coSupplyEdgesNormalized(s, d, pin).persist())
    val (base, r0) = pagerankBase(s, d)
    pagerankStep(en, base, r0, pin)
  }

  /** (base, r0) for a supplier node set: every supplier with the node
    * count broadcast alongside, and the uniform start vector.
    */
  private[graft] def pagerankBase(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nTot = supplier(s, d).agg(count(lit(1)).cast("double").as("nn"))
    val base = graft.CacheLeases.lease(
      supplier(s, d).select(col("s_suppkey").as("node"))
        .crossJoin(broadcast(nTot))
        .persist())
    (base, base.select(col("node"), (lit(1.0) / col("nn")).as("r")))
  }

  /** The MUTUAL TOP-3 co-supply kNN graph (undirected distinct
    * {u, v} pairs): each supplier keeps its 3 strongest co-supply
    * partners (shared-part count desc, id asc), both directions
    * unioned. The sparsification is what makes graph analytics honest
    * on this corpus — the raw co-supply graph is COMPLETE (~30
    * suppliers per part), and kNN bounds edges at O(k·n) BY
    * CONSTRUCTION at every scale. Shared by q227/q234/q235.
    */
  private[graft] def knnEdges(s: SparkSession, d: String): DataFrame = {
    val ps = lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    val ew = ps.as("a")
      .join(ps.as("b"),
        col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("u"), col("b.sk").as("v"))
      .agg(count(lit(1)).as("w"))
    val dirW = ew.select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionAll(ew.select(col("v").as("s"), col("u").as("t"), col("w")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("w").desc, col("t").asc)
    dirW
      .withColumn("rk", row_number().over(wTop))
      .where(col("rk") <= 3)
      .select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .distinct()
  }

  /** [[knnEdges]] as a CONTENT-KEYED STAGED FIXTURE (round 15, r14
    * verdict item #1 — the ALS q311–q314 pattern applied to the shared
    * graph construction): five queries (q227/q234/q235/q243/q244)
    * derive the IDENTICAL mutual-top-3 edge set, and rebuilding the
    * same ~37 MB pair aggregate per query cost ~150 MB shuffle and
    * ~15 s per suite run. The FIRST staged consumer per corpus builds
    * the edge set from the parquet inputs and stages it (one-time
    * cost, lands in `sec_run1` like every fixture — BENCH_NOTES.md);
    * every later consumer reads the staged table. **q227 keeps the
    * inline build as the INLINE-BUILD TWIN** — the construction cost
    * stays measured from the parquet inputs every bench run, and every
    * staged consumer still gates against the SAME oracle text, whose
    * hash match is the staged ≡ rebuilt proof (the edge set is exact
    * integers; parquet round-trips them identically). The write is
    * repartition(1) + total sort so the staged bytes are a pure
    * function of the edge rows (the Warehouse total-sort discipline —
    * no run-to-run byte wobble in the consumers' scans).
    */
  private def stagedKnnEdges(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(d).toAbsolutePath.normalize
    val stageDir = graft.Staging.dirFor("graft_knn_edges", src)
    val marker = stageDir.resolve("_EDGES_READY")
    if (!Files.exists(marker)) {
      val build = Files.createTempDirectory(stageDir, "build_")
      knnEdges(s, d)
        .repartition(1).sortWithinPartitions(col("u"), col("v"))
        .write.mode("overwrite").parquet(build.resolve("edges").toString)
      val target = stageDir.resolve("edges")
      graft.Staging.deleteRecursively(target) // partial from a crashed build
      Files.move(build.resolve("edges"), target, StandardCopyOption.ATOMIC_MOVE)
      graft.Staging.deleteRecursively(build)
      graft.Staging.touchMarker(marker)
    }
    s.read.parquet(stageDir.resolve("edges").toString)
  }

  /** SQL mirror of [[knnEdges]] — the shared `ps → ew → dw → e0` CTE
    * prefix of the kNN-graph oracles.
    */
  private val knnEdgesSql: String = """
        ps AS MATERIALIZED (
          SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        ew AS MATERIALIZED (
          SELECT a.sk AS u, b.sk AS v, COUNT(*) AS w
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
          GROUP BY 1, 2),
        dw AS MATERIALIZED (
          SELECT u AS s, v AS t, w FROM ew
          UNION ALL SELECT v AS s, u AS t, w FROM ew),
        e0 AS MATERIALIZED (
          SELECT DISTINCT LEAST(s, t) AS u, GREATEST(s, t) AS v FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY s
              ORDER BY w DESC, t ASC) AS rk FROM dw)
          WHERE rk <= 3)"""

  /** Undirected degree of every node of the {u < v} edge set. */
  private def degrees(e0: DataFrame): DataFrame =
    e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Closed triangles (tu, tv, tw) of the undirected edge set under
    * the (deg, id) orientation — each triangle appears exactly once
    * with tu its order-lowest vertex. See q227's scaladoc for the
    * compact-forward argument.
    */
  private def closedTriangles(e0: DataFrame, deg: DataFrame): DataFrame = {
    val ed = e0
      .join(deg.as("nu"), col("nu.node") === col("u"))
      .join(deg.as("nv"), col("nv.node") === col("v"))
      .select(col("u"), col("v"),
        col("nu.deg").as("du"), col("nv.deg").as("dv"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val arcs = ed.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
    val wedges = arcs.as("x")
      .join(arcs.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.ddeg") < col("y.ddeg") ||
            (col("x.ddeg") === col("y.ddeg") && col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("tu"), col("x.dst").as("tv"),
        col("y.dst").as("tw"))
    wedges.join(arcs.select(col("src"), col("dst")),
      col("tv") === col("src") && col("tw") === col("dst"), "leftsemi")
  }

  /** SQL mirror of [[degrees]] + [[closedTriangles]] over `e0` —
    * yields CTEs `n` (degrees) and `tri` (closed triangles).
    */
  private val trianglesSql: String = """
        n AS MATERIALIZED (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
          GROUP BY node),
        ed AS MATERIALIZED (
          SELECT u, v, nu.deg AS du, nv.deg AS dv
          FROM e0 JOIN n nu ON nu.node = u JOIN n nv ON nv.node = v),
        arcs AS MATERIALIZED (
          SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
                 CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
                 CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
          FROM ed),
        wedges AS MATERIALIZED (
          SELECT x.src AS tu, x.dst AS tv, y.dst AS tw
          FROM arcs x JOIN arcs y ON x.src = y.src
           AND (x.ddeg < y.ddeg OR (x.ddeg = y.ddeg AND x.dst < y.dst))),
        tri AS MATERIALIZED (
          SELECT tu, tv, tw FROM wedges w
          WHERE EXISTS (SELECT 1 FROM arcs z WHERE z.src = w.tv AND z.dst = w.tw))"""

  private lazy val rawQueries: Map[String, QueryDef] = Map(

    // ----------------------------------------------------------------
    // WEIGHTED PAGERANK (Page et al. 1999, fixed K=3 iterations) over
    // the supplier CO-SUPPLY graph: s1 → s2 with weight = number of
    // distinct parts both supply. The graph is derived, not stored —
    // the (part, supplier) projection contracts the fact table in one
    // map-side-combined distinct, and the bounded per-part self-join
    // generates edges without a CartesianProduct.
    //
    // Numeric contract (the q161/q164 discipline): edge weights are
    // normalized once by exact integer-ratio division; every per-node
    // contribution sum folds in sorted src order on BOTH engines, so
    // the only arithmetic is correctly-rounded IEEE +,*,/ applied in
    // an identical sequence — bit-identical cross-engine, no libm.
    // Dangling/isolated nodes keep teleport-only mass (leaky PageRank,
    // mirrored exactly in the oracle — no dangling redistribution).
    "q167_pagerank" -> QueryDef(
      fn = (s, d) => {
        val pin = nodePin(s, d)
        val en = graft.CacheLeases.lease(coSupplyEdgesNormalized(s, d, pin).persist())
        val (base, r0) = pagerankBase(s, d)
        val rK = pagerankIterate(en, base, r0, Iterations, pin)
        rK.select(col("node"), round(col("r") * lit(1e6), 6).as("pr_ppm"))
      },
      oracle = Some {
        def contribSql(prev: String, i: Int): String = s"""
        c$i AS (
          SELECT en.dst,
                 list_sum(list_transform(list(r.r * en.nw ORDER BY en.src), x -> x)) AS csum
          FROM en JOIN $prev r ON r.node = en.src GROUP BY en.dst),
        r$i AS (
          SELECT b.node, $Teleport / b.nn + $Damping * COALESCE(c$i.csum, 0.0) AS r
          FROM base b LEFT JOIN c$i ON c$i.dst = b.node)"""
        val steps = (1 to Iterations).map(i => contribSql(if (i == 1) "r0" else s"r${i - 1}", i)).mkString(",")
        s"""
        WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        e AS (
          SELECT a.sk AS src, b.sk AS dst, COUNT(*) AS w
          FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk <> b.sk
          GROUP BY 1, 2),
        en AS (
          SELECT src, dst,
                 CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS nw
          FROM e),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM supplier),
        base AS (SELECT s_suppkey AS node, nn FROM supplier, n),
        r0 AS (SELECT node, 1.0 / nn AS r FROM base),
        $steps
        SELECT node, ROUND(r * 1e6, 6) AS pr_ppm FROM r$Iterations"""
      }
    ),

    // ----------------------------------------------------------------
    // TRIANGLE COUNTING via DEGREE-ORDERED ORIENTATION (the
    // compact-forward algorithm, Latapy 2008 / Suri & Vassilvitskii
    // 2011 "Counting triangles and the curse of the last reducer") on
    // the MUTUAL TOP-3 co-supply kNN graph. Graph construction matters
    // at scale: this corpus's raw co-supply graph is COMPLETE (~30
    // suppliers touch every part, so every supplier pair shares parts
    // — measured: 499,500 = C(1000,2) weighted edges at sf0.1), and no
    // absolute weight threshold is scale-free because expected shared
    // parts grow with the corpus. The kNN sparsification — keep each
    // node's 3 strongest partners (w desc, id asc), union both
    // directions — is the standard similarity-graph construction and
    // bounds the edge set at O(k·n) BY CONSTRUCTION at every scale.
    // Then orient every undirected edge from its (deg, id)-smaller
    // endpoint to the larger, so each triangle is counted exactly once
    // at its order-lowest vertex and every node's ORIENTED out-degree
    // is O(√m), bounding the wedge join at O(m^{3/2}) regardless of
    // degree skew. Everything is integer arithmetic over keyed
    // equi-joins: the only window partitions by node over its ≤n−1
    // weighted partners, wedges are one bounded self-join, closure one
    // semi-join — no cartesian, no global rank (the orientation
    // compares (deg, id) tuples in the join condition instead of
    // materializing a total order).
    "q227_triangle_count" -> QueryDef(
      fn = (s, d) => {
        // q227 is the kNN edge build's INLINE TWIN (see stagedKnnEdges)
        // — it constructs the edge set from the parquet inputs every
        // invocation. The localCheckpoint cuts the fan-out (degrees +
        // both closedTriangles arms re-executed the whole build
        // subtree; the edge set is O(k·n) slim rows), the q309 recipe.
        val e0 = knnEdges(s, d).localCheckpoint(true)
        closedTriangles(e0, degrees(e0))
          .groupBy(col("tu").as("node"))
          .agg(count(lit(1)).as("tri"))
      },
      oracle = Some(s"""
        WITH $knnEdgesSql,
        $trianglesSql
        SELECT tu AS node, COUNT(*) AS tri FROM tri GROUP BY tu""")
    ),

    // ----------------------------------------------------------------
    // LOCAL CLUSTERING COEFFICIENT — per-node cohesion of the kNN
    // graph: c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the probability two
    // of v's partners are themselves partnered (the "community
    // tightness" signal used to rank crawl seeds and detect template
    // farms). T(v) counts EVERY triangle at all three corners — one
    // 3-way corner explode of the closed-triangle table q227 already
    // derives — so the cost beyond q227 is a corner-grain aggregate
    // and one keyed join to the degree table. Exact integer counts;
    // the only double is the final pinned ratio.
    "q235_clustering_coefficient" -> QueryDef(
      fn = (s, d) => {
        val e0  = stagedKnnEdges(s, d)
        val deg = degrees(e0)
        val tri = closedTriangles(e0, deg)
        val corners = tri.select(col("tu").as("node"))
          .unionAll(tri.select(col("tv").as("node")))
          .unionAll(tri.select(col("tw").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("tri"))
        val dd = col("deg").cast("double")
        deg.join(corners, Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("tri"), lit(0L)).as("tri"),
            when(col("deg") < 2, lit(0.0))
              .otherwise((lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double")) /
                (dd * (dd - lit(1.0))))
              .as("coeff"))
          .select(col("node"), col("deg"), col("tri"),
            round(col("coeff"), 6).as("coeff"))
      },
      oracle = Some(s"""
        WITH $knnEdgesSql,
        $trianglesSql,
        corners AS MATERIALIZED (
          SELECT node, COUNT(*) AS tri FROM (
            SELECT tu AS node FROM tri
            UNION ALL SELECT tv FROM tri
            UNION ALL SELECT tw FROM tri)
          GROUP BY node)
        SELECT n.node, CAST(n.deg AS BIGINT) AS deg,
               CAST(COALESCE(c.tri, 0) AS BIGINT) AS tri,
               ROUND(CASE WHEN n.deg < 2 THEN 0.0
                 ELSE (2.0 * CAST(COALESCE(c.tri, 0) AS DOUBLE)) /
                      (CAST(n.deg AS DOUBLE) * (CAST(n.deg AS DOUBLE) - 1.0))
                 END, 6) AS coeff
        FROM n LEFT JOIN corners c ON c.node = n.node""")
    ),

    // ----------------------------------------------------------------
    // LABEL PROPAGATION community detection (Raghavan et al. 2007),
    // K=3 SYNCHRONOUS rounds on the kNN graph: every node adopts the
    // most frequent label among its neighbors, ties to the SMALLEST
    // label — which makes the synchronous schedule deterministic (the
    // usual async-random variant is not reproducible, so it is not
    // gateable; the deterministic variant is what a pipeline should
    // run anyway). One keyed shuffle per round ((node, label) counts),
    // argmax as an aggregation (min(struct(-cnt, lbl))), node-grain
    // state localCheckpoint'ed — the q167 BSP contract, integer-only.
    "q234_label_propagation" -> QueryDef(
      fn = (s, d) => {
        val e0 = stagedKnnEdges(s, d)
        val dirE = graft.CacheLeases.lease(
          e0.select(col("u").as("s"), col("v").as("t"))
            .unionAll(e0.select(col("v").as("s"), col("u").as("t")))
            .persist())
        val l0 = dirE.select(col("s").as("node")).distinct()
          .select(col("node"), col("node").as("lbl"))
        def step(lbls: DataFrame): DataFrame =
          dirE.join(lbls, col("t") === col("node"))
            .groupBy(col("s"), col("lbl"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("s"))
            .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
            .select(col("s").as("node"), col("m.l").as("lbl"))
            .localCheckpoint(true)
        val lK = (1 to 3).foldLeft(l0)((l, _) => step(l))
        lK.select(col("node"), col("lbl"))
      },
      oracle = Some {
        def stepSql(i: Int, prev: String): String = s"""
        c$i AS MATERIALIZED (
          SELECT e.s, l.lbl, COUNT(*) AS cnt
          FROM de e JOIN $prev l ON l.node = e.t
          GROUP BY e.s, l.lbl),
        l$i AS MATERIALIZED (
          SELECT s AS node, lbl FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY s
              ORDER BY cnt DESC, lbl ASC) AS rn FROM c$i) WHERE rn = 1)"""
        val steps = (1 to 3)
          .map(i => stepSql(i, if (i == 1) "l0" else s"l${i - 1}"))
          .mkString(",")
        s"""
        WITH $knnEdgesSql,
        de AS MATERIALIZED (
          SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v AS s, u AS t FROM e0),
        l0 AS MATERIALIZED (
          SELECT DISTINCT s AS node, s AS lbl FROM de),
        $steps
        SELECT node, lbl FROM l3"""
      }
    ),

    // ----------------------------------------------------------------
    // MULTI-SOURCE BFS HOP DISTANCE (fixed K=4 rounds) from the
    // lowest-nation supplier cohort over the mutual top-3 kNN graph —
    // the MIN-PLUS semiring twin of q167's sum-times PageRank, and the
    // "blast radius" query every supply-chain dashboard wants: how
    // many co-supply hops is each supplier from the seed region?
    // One relaxation = ONE keyed shuffle (dist ⋈ arcs on src, then a
    // dst-grain MIN); the distance vector is node-grain and
    // localCheckpoint'ed per round, so plan depth stays constant.
    // Everything is INTEGER — no numeric contract needed at all.
    // Fixed K bounds work by construction (K rounds = exact distances
    // for every node within K hops; farther nodes are absent, which
    // is the honest answer a bounded scan can give at 100 TB).
    "q243_bfs_hops" -> QueryDef(
      fn = (s, d) => {
        val e0 = stagedKnnEdges(s, d)
        val arcs = graft.CacheLeases.lease(
          e0.select(col("u").as("src"), col("v").as("dst"))
            .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
            .persist())
        val mn = supplier(s, d).agg(min(col("s_nationkey")).as("m"))
        val seeds = supplier(s, d).crossJoin(broadcast(mn))
          .where(col("s_nationkey") === col("m"))
          .select(col("s_suppkey").as("node"), lit(0).as("h"))
        def relax(dist: DataFrame): DataFrame =
          dist.unionByName(
            arcs.join(dist, col("node") === col("src"))
              .select(col("dst").as("node"), (col("h") + 1).as("h")))
            .groupBy(col("node"))
            .agg(min(col("h")).as("h"))
            .localCheckpoint(true)
        val dK = (1 to 4).foldLeft(seeds)((dd, _) => relax(dd))
        dK.select(col("node"), col("h").as("hops"))
      },
      oracle = Some {
        def stepSql(i: Int, prev: String): String = s"""
        d$i AS MATERIALIZED (
          SELECT node, MIN(h) AS h FROM (
            SELECT node, h FROM $prev
            UNION ALL
            SELECT a.dst AS node, p.h + 1 AS h
            FROM arcs a JOIN $prev p ON p.node = a.src) r
          GROUP BY node)"""
        val steps = (1 to 4)
          .map(i => stepSql(i, if (i == 1) "d0" else s"d${i - 1}"))
          .mkString(",")
        s"""
        WITH $knnEdgesSql,
        arcs AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM e0
          UNION ALL SELECT v AS src, u AS dst FROM e0),
        mn AS (SELECT MIN(s_nationkey) AS m FROM supplier),
        d0 AS MATERIALIZED (
          SELECT s_suppkey AS node, 0 AS h
          FROM supplier, mn WHERE s_nationkey = mn.m),
        $steps
        SELECT node, CAST(h AS INTEGER) AS hops FROM d4"""
      }
    ),

    // ----------------------------------------------------------------
    // K-CORE DECOMPOSITION (k=3) of the kNN co-supply graph — the
    // classic density filter (Seidman 1983): iteratively peel nodes
    // with degree < k until the fixpoint; what survives is the
    // maximal subgraph where EVERY node keeps ≥ k neighbors. The
    // "structurally robust" supplier set a risk team actually wants
    // (BFS reachability alone counts pendant chains as connected).
    // One peel round = one node-grain degree aggregate + two semi-
    // joins, edge set localCheckpoint'ed per round; the Spark side
    // peels to a FINGERPRINT-VERIFIED fixpoint (the q83 star-
    // contraction discipline, require-guarded), the oracle unrolls
    // MaxPeels rounds — identical because peeling is idempotent after
    // convergence.
    "q244_kcore" -> QueryDef(
      fn = (s, d) => {
        val K = 3
        val MaxPeels = 8
        var e = stagedKnnEdges(s, d).localCheckpoint(true)
        def fingerprint(df: DataFrame): (Long, Long) = {
          val r = df
            .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        def peel(cur: DataFrame): DataFrame = {
          val deg = cur.select(col("u").as("node"))
            .unionAll(cur.select(col("v").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("deg"))
          val keep = deg.where(col("deg") >= K).select(col("node"))
          cur
            .join(keep.select(col("node").as("u")), Seq("u"), "leftsemi")
            .join(keep.select(col("node").as("v")), Seq("v"), "leftsemi")
            .select(col("u"), col("v"))
        }
        var prevFp    = fingerprint(e)
        var converged = false
        var pass      = 0
        while (!converged && pass < MaxPeels) {
          val next  = peel(e).localCheckpoint(true)
          val newFp = fingerprint(next)
          e = next
          converged = newFp == prevFp
          prevFp = newFp
          pass += 1
        }
        require(converged,
          s"k-core peeling did not converge in $MaxPeels rounds — " +
            "the oracle unrolls exactly that many; raise MaxPeels")
        e.select(col("u").as("node"))
          .unionAll(e.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      },
      oracle = Some {
        def peelSql(i: Int, prev: String): String = s"""
        dg$i AS MATERIALIZED (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev)
          GROUP BY node),
        ke$i AS MATERIALIZED (SELECT node FROM dg$i WHERE deg >= 3),
        pe$i AS MATERIALIZED (
          SELECT u, v FROM $prev p
          WHERE EXISTS (SELECT 1 FROM ke$i a WHERE a.node = p.u)
            AND EXISTS (SELECT 1 FROM ke$i b WHERE b.node = p.v))"""
        val steps = (1 to 8)
          .map(i => peelSql(i, if (i == 1) "e0" else s"pe${i - 1}"))
          .mkString(",")
        s"""
        WITH $knnEdgesSql,
        $steps
        SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
          SELECT u AS node FROM pe8 UNION ALL SELECT v FROM pe8)
        GROUP BY node"""
      }
    )
  )
}
