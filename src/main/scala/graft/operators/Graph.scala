package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph data prep (reference `networkx.py:21-151` draw_graph): the graph
  * is a pair of DataFrames — `vertices(id, attrs…)` and
  * `edges(src, dst, attrs…)` (GraphFrames convention) — and every
  * driver-side table the reference's renderer consumes is a distributed
  * aggregation here. Rendering itself stays out of engine scope
  * (SURVEY #36).
  */
object Graph {

  /** Iterative operators keep all per-round caches up to this many
    * iterations (cheap, and CacheManager reuses them across repeat
    * invocations); past it they eagerly materialize each round and
    * release the trailing one — O(1) cache footprint at any depth.
    */
  private[graft] val CacheRetainRounds = 8


  /** Color-group table (`networkx.py:95-111`): group nodes by a color
    * attribute; the reference builds {color -> node list} — here the group
    * plus member count and the (sorted) member sample the renderer needs.
    */
  def colorGroups(vertices: DataFrame, idCol: String, colorCol: String,
      sampleSize: Int = 100): DataFrame = {
    // counts over ALL nodes, but collect_list only over the first
    // `sampleSize` ids per color (window-ranked) — aggregation state stays
    // bounded even when one color dominates a billion-vertex graph.
    val counts = vertices
      .groupBy(col(colorCol).as("color"))
      .agg(count(lit(1)).as("n_nodes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(colorCol)).orderBy(col(idCol).asc)
    val sample = vertices
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= sampleSize)
      .groupBy(col(colorCol).as("color"))
      .agg(sort_array(collect_list(col(idCol))).as("node_sample"))
    counts.join(sample, Seq("color"), "left").orderBy("color")
  }

  /** Degree table: in/out/total degree per vertex from the edge list —
    * two hash aggregations + one outer join, no vertex-side shuffle of
    * attributes.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("id")).agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col(dstCol).as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))
  }

  /** Fixed-iteration PageRank (EXT — the standard importance diagnostic
    * over any graph the pipeline builds: near-dup clusters, supplies-to
    * graphs, citation webs). `iterations` synchronous sweeps of
    * `r' = (1-d)/n + d * sum(r_in / outdeg)`, no dangling-mass
    * redistribution (dangling rank leaks each sweep — the common
    * fixed-point simplification; document it, don't hide it).
    *
    * Engine-portable float discipline: per-edge contributions are
    * quantized (round 12) then summed as DECIMAL(30,12) — exact and
    * commutative, so partition order cannot change the sum — and each
    * sweep's ranks are re-quantized (round `quantize`), keeping every
    * iteration's state on an exactly-representable grid that any SQL
    * engine replaying the same unrolled arithmetic reproduces bit for
    * bit.
    *
    * Scale shape (100 TB): each sweep is one equi-join of ranks onto
    * edges (src key) + one groupBy (dst key) with map-side partial
    * decimal sums — the classic Pregel sweep as two exchanges; ranks
    * persist per sweep so lineage stays flat (`localCheckpoint` the
    * ranks for high iteration counts; at the declared 3 sweeps the
    * plan is shallow).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85,
      quantize: Int = 9): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"pageRank: need 1<=iterations<=50, got $iterations")
    require(damping > 0 && damping < 1, s"pageRank: need 0<d<1, got $damping")
    // r14: the cached edge frame is pre-partitioned on the sweep's join
    // key, so every per-sweep rank join reads it exchange-free (the
    // repartition costs ONE shuffle up front vs `iterations` re-shuffles
    // of the edge frame — §2.4 exchange reuse); decimal sums are
    // order-free so the layout change cannot move a bit
    val e = edges.select(col(srcCol).cast("string").as("_src"),
        col(dstCol).cast("string").as("_dst"))
      .distinct()
      .repartition(col("_src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("_src").as("_id"))
      .unionByName(e.select(col("_dst").as("_id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // out-degrees ride the _src partitioning (map-side aggregate, no
    // exchange) and are pinned once — every sweep joins them; without
    // the pin each sweep's plan re-executes the degree aggregate
    val outDeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // n and the teleport term are scalars; 1.0/n is the same double in
    // any engine computing it from the same count
    val n = nodes.count()
    val init = round(lit(1.0) / n, quantize)
    // same cache-retention policy as [[hits]]: rounds persisted at
    // declared iteration counts (CacheManager reuse across repeat
    // invocations); past the window, eager localCheckpoint per round
    // truncates the nested-plan blowup and lets the ContextCleaner
    // reclaim trailing rounds' blocks. PageRank's sweep tree is LINEAR
    // (no per-sweep normalization subtree), so the lazy pins that blew
    // up hits stay cheap here.
    val release = iterations > CacheRetainRounds
    def pin(df: DataFrame): DataFrame =
      if (release) df.localCheckpoint()
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SPARSE iteration state (r13 optimization, the [[hits]] discipline):
    // ranks are carried only for in-edge endpoints — any other node's
    // rank is the CONSTANT round((1-d)/n + d·0, q) at every sweep (its
    // in-sum is always empty), re-attached via coalesce where the dense
    // form materialized it: on the contribution join (sweep >= 2) and at
    // the readout. Every per-sweep re-join onto the full node list is
    // gone; the DECIMAL contribution sums are bit-identical because the
    // coalesced default is the exact same rounded double the dense rank
    // row carried.
    val rdef = round(lit(1.0 - damping) / n + lit(damping) * lit(0.0), quantize)
    var sparse: DataFrame = null
    var it = 0
    while (it < iterations) {
      val withR =
        if (sparse == null) e.withColumn("_r", init)
        else e.join(sparse.withColumnRenamed("_id", "_src"), Seq("_src"), "left")
          .withColumn("_r", coalesce(col("_r"), rdef))
      val contribs = withR.join(outDeg, Seq("_src"))
        .select(col("_dst").as("_id"),
          round(col("_r") / col("_deg"), 12).cast("decimal(30,12)").as("_c"))
      val summed = contribs.groupBy(col("_id"))
        .agg(sum(col("_c")).cast("double").as("_in"))
      sparse = pin(summed.select(col("_id"),
        round(lit((1.0 - damping)) / n +
          lit(damping) * col("_in"), quantize).as("_r")))
      it += 1
    }
    nodes.join(sparse, Seq("_id"), "left")
      .select(col("_id").as("node"), coalesce(col("_r"), rdef).as("rank"))
  }

  /** Fixed-iteration HITS (Kleinberg'99) hubs & authorities — the
    * natural importance pair on BIPARTITE graphs (where PageRank's
    * random surfer is awkward): per sweep, authority = L1-normalized
    * sum of in-neighbour hub scores, then hub = L1-normalized sum of
    * out-neighbour authority scores. Same engine-portable float
    * discipline as [[pageRank]]: round(12) -> DECIMAL(30,12) sums
    * (exact, commutative), scores re-quantized round(`quantize`) after
    * each normalization; L1 totals are bounded 1-row scalar readouts
    * (re-injected as literals — bit-identical to the broadcast-column
    * division they replaced, see the sweep note).
    * Output: (node, hub, authority) for every node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2, quantize: Int = 9): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"hits: need 1<=iterations<=20, got $iterations")
    // r14: TWO cached copies of the edge frame, one per sweep join key —
    // the authority sweep joins hubs on _src, the hub sweep joins
    // authorities on _dst, and with a single unpartitioned cache each of
    // the 2·iterations joins re-shuffled the edges (the dominant exchange
    // of the query, §2.4). eDst derives from the cached eSrc so the
    // distinct computes once; the space/time trade (2 cached copies vs
    // 2·iterations edge shuffles) is the standard iterative-graph layout.
    val eSrc = edges.select(col(srcCol).cast("string").as("_src"),
        col(dstCol).cast("string").as("_dst"))
      .distinct()
      .repartition(col("_src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = eSrc.repartition(col("_dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = eSrc.select(col("_src").as("_id"))
      .unionByName(eSrc.select(col("_dst").as("_id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def dsum12(c: Column): Column =
      sum(round(c, 12).cast("decimal(30,12)")).cast("double")
    // Cache retention as in [[pageRank]]: rounds persisted at declared
    // iteration counts for CacheManager reuse, localCheckpoint past the
    // window for O(1) footprint.
    val release = iterations > CacheRetainRounds
    def pin(df: DataFrame): DataFrame =
      if (release) df.localCheckpoint()
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SPARSE iteration state (r13 optimization): scores are carried only
    // for nodes that can ever be nonzero — auths over in-edge endpoints
    // (= every `_dst` of `e`, the groupBy key set), hubs over out-edge
    // endpoints. Each sweep's equi-join against `e` then matches EVERY
    // edge row exactly as the dense form did (a dense score row that is
    // not an edge endpoint never matched the join; a zero-score endpoint
    // cannot exist — groupBy produces a row per endpoint), so all
    // DECIMAL(30,12) sums are bit-identical, and the two per-sweep
    // re-joins onto the full node list are gone (half the per-sweep plan
    // depth, measured ~2x wall at sf0.1 under AQE's per-stage
    // replanning). Zeros for no-out-edge hubs / no-in-edge authorities
    // are re-attached ONCE at the readout, where the dense form produced
    // round(0/t) = 0.0 exactly.
    var hubs = eSrc.select(col("_src").as("_id")).distinct()
      .select(col("_id"), lit(1.0).as("_hub"))
    var auths: DataFrame = null
    var it = 0
    while (it < iterations) {
      // r14: the raw sweep aggregate is pinned BEFORE normalization, and
      // the L1 total is read out as a bounded 1-row scalar (the
      // rake_weights driver-side-bounded discipline) instead of riding as
      // a crossJoin(broadcast(agg)) subtree. The broadcast form embedded
      // the WHOLE sweep history under every total — the analyzed tree
      // doubled per sweep (2^sweeps nodes; the r13 driver record's 16 s
      // hits_suppliers regression was the readout finalizing that nested
      // chain on the driver, 14 s measured cold on 32 local cores). The
      // 1-row readout also materializes each pinned round eagerly, so
      // the final action sees shallow, already-built caches. The scalar
      // re-enters as a literal: round(x / lit(t)) on the same IEEE
      // double `t` is bit-identical to the broadcast-column division.
      val ar = pin(eSrc.join(hubs.withColumnRenamed("_id", "_src"), Seq("_src"))
        .groupBy(col("_dst").as("_id")).agg(dsum12(col("_hub")).as("_ar")))
      val at = ar.agg(dsum12(col("_ar")).as("_t")).collect()(0).getDouble(0)
      auths = pin(ar
        .select(col("_id"), round(col("_ar") / lit(at), quantize).as("_auth")))
      val hr = pin(eDst.join(auths.withColumnRenamed("_id", "_dst"), Seq("_dst"))
        .groupBy(col("_src").as("_id")).agg(dsum12(col("_auth")).as("_hr")))
      val ht = hr.agg(dsum12(col("_hr")).as("_t")).collect()(0).getDouble(0)
      hubs = pin(hr
        .select(col("_id"), round(col("_hr") / lit(ht), quantize).as("_hub")))
      it += 1
    }
    nodes.join(hubs, Seq("_id"), "left").join(auths, Seq("_id"), "left")
      .select(col("_id").as("node"),
        coalesce(col("_hub"), lit(0.0)).as("hub"),
        coalesce(col("_auth"), lit(0.0)).as("authority"))
  }

  /** Per-node triangle participation counts (EXT — on a near-dup pair
    * graph, triangles are transitivity evidence: a doc in many
    * triangles sits in a tight duplicate clique, not a chain of
    * borderline matches). Edges are canonicalized undirected
    * (lo < hi, deduped); a triangle a<b<c is found once via the
    * standard ordered wedge join (ab ⋈ bc on b, closed by ac).
    * Output: (node, n_triangles) for every node in >= 1 triangle.
    *
    * Scale shape (100 TB): wedge generation is Θ(Σ deg²) — ONE hub
    * node would go quadratic, so `maxDegree` drops nodes above the cap
    * from the wedge join entirely (their triangles are not counted —
    * the usual recall-for-boundedness trade, loud in the output
    * because capped hubs simply never appear). The degree guard is a
    * window count over the join's own key; both joins are equi-joins.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 4096): DataFrame = {
    require(maxDegree >= 2, s"triangleCounts: need maxDegree>=2, got $maxDegree")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    // degree over the canonical edge set; cap applies to BOTH endpoints
    val deg = canon.select(explode(array(col("lo"), col("hi"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") <= maxDegree)
      .select(col("n"))
    val e = canon
      .join(deg.withColumnRenamed("n", "lo"), Seq("lo"))
      .join(deg.withColumnRenamed("n", "hi"), Seq("hi"))
      .select("lo", "hi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = e.select(col("lo").as("a"), col("hi").as("b"))
      .join(e.select(col("lo").as("b"), col("hi").as("c")), Seq("b"))
      .join(e.select(col("lo").as("a"), col("hi").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient (Watts-Strogatz '98): per node,
    * lcc = 2·T / (d·(d−1)) — the share of the node's neighbor pairs
    * that are themselves connected (1 inside a clique, 0 on a star
    * hub). Triangles via the same ordered wedge join as
    * [[triangleCounts]]; degree over the same capped canonical edge
    * set, so T and d describe the SAME graph. Nodes with d = 1 report
    * lcc null (no neighbor pair exists). The division is exact-integer
    * operands at the round(6) readout.
    *
    * Output: (node, degree, n_triangles, lcc) for every capped node.
    *
    * Scale shape (100 TB): identical to [[triangleCounts]] — the
    * `maxDegree` window-count guard bounds the Θ(Σ deg²) wedge stage,
    * ONE persisted capped edge frame feeds the wedge join and the
    * degree roll-up (three consumers on one lineage), and everything
    * else is equi-joins and map-side-combinable counts.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Int = 4096): DataFrame = {
    require(maxDegree >= 2,
      s"clusteringCoefficient: need maxDegree>=2, got $maxDegree")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val capped = canon.select(explode(array(col("lo"), col("hi"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("_deg"))
      .filter(col("_deg") <= maxDegree)
      .select(col("n"))
    val e = canon
      .join(capped.withColumnRenamed("n", "lo"), Seq("lo"))
      .join(capped.withColumnRenamed("n", "hi"), Seq("hi"))
      .select("lo", "hi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = e.select(col("lo").as("a"), col("hi").as("b"))
      .join(e.select(col("lo").as("b"), col("hi").as("c")), Seq("b"))
      .join(e.select(col("lo").as("a"), col("hi").as("c")), Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round((lit(2L) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"), 6)).as("lcc"))
  }

  /** Fixed-sweep k-core peeling (Seidman '83): repeatedly drop every
    * node with degree < k (and its edges) for `sweeps` synchronous
    * rounds, then report the surviving nodes with their core-subgraph
    * degree. The k-core separates cohesive structure from chains and
    * pendants — on a near-dup graph, the 2-core is the set of docs
    * whose duplication is CORROBORATED by at least two independent
    * neighbors (isolated pairs and chain ends peel away). Fixed sweeps
    * (not a convergence loop) keep the computation exactly replayable
    * by the oracle's unrolled CTEs — the labelPropagation discipline;
    * a graph whose peeling hasn't settled by `sweeps` rounds yields the
    * same intermediate both sides.
    *
    * Output: (node, core_degree) over the surviving edge set.
    *
    * Scale shape (100 TB): per sweep ONE map-side-combinable degree
    * count plus two LEFT SEMI equi-joins back to the edge list;
    * localCheckpoint after every sweep cuts the lineage (the LPA/
    * pointer-jumping discipline) so sweep s never re-executes sweeps
    * 1..s-1.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, sweeps: Int = 4): DataFrame = {
    require(k >= 1 && sweeps >= 1,
      s"kCore: need k>=1, sweeps>=1; got k=$k sweeps=$sweeps")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    var e = canon.localCheckpoint()
    for (_ <- 1 to sweeps) {
      val keep = e.select(explode(array(col("lo"), col("hi"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k)
        .select(col("n"))
      e = e.join(keep.withColumnRenamed("n", "lo"), Seq("lo"), "left_semi")
        .join(keep.withColumnRenamed("n", "hi"), Seq("hi"), "left_semi")
        .localCheckpoint()
    }
    e.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Fixed-sweep multi-source BFS distance labeling: every node
    * matching `seed` starts at distance 0; sweep s relaxes one hop, so
    * after `sweeps` rounds each reached node carries its EXACT hop
    * distance min(d(node, any seed)) <= sweeps — the blast-radius
    * question over a near-dup graph ("how far does contamination
    * spread through transitive similarity?") that k-core's density
    * view can't answer. Deterministic (min-relaxation is order-free),
    * replayed sweep-for-sweep by the oracle's chained CTEs.
    *
    * Output: (node, dist) for reached nodes only, dist in [0, sweeps].
    *
    * Scale shape (100 TB): per sweep ONE frontier-edge equi-join + a
    * (node, dist) min-groupBy; localCheckpoint cuts the iterative
    * lineage exactly like kCore/LPA; the frontier join sends only
    * nodes at distance s-1, never the whole reached set.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seed: Column, sweeps: Int = 3): DataFrame = {
    require(sweeps >= 1, s"bfsHops: need sweeps>=1, got $sweeps")
    // materialize the (possibly expensive) edge derivation ONCE before
    // the bidirectional union references it twice — profiled at sf0.1
    // the duplicated subtree was ~2× the whole query's task time
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val und = e0
      .filter(col("src") =!= col("dst"))
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    val nodes = und.select(col("src").as("node")).distinct()
    var dist = nodes.filter(seed)
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    for (s <- 1 to sweeps) {
      val frontier = dist.filter(col("dist") === (s - 1))
        .join(und, dist("node") === und("src"))
        .select(und("dst").as("node"), lit(s.toLong).as("dist"))
      dist = dist.unionByName(frontier)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Fixed-sweep Bellman-Ford single/multi-source WEIGHTED distances —
    * [[bfsHops]]'s metric sibling (hop counts treat a 0.99-Jaccard
    * near-dup edge and a borderline 0.70 one identically; a
    * dissimilarity weight makes the blast radius metric-aware). Each
    * sweep relaxes every edge once: dist' = min(dist, min_src(dist_src
    * + w)) — after k sweeps every node holds the exact min-weight path
    * distance over paths of <= k edges. Deterministic: the per-path
    * float sum accumulates in sweep order on both engines, and min
    * over identical value sets is order-free. Weights must be
    * non-negative (checked NOT per-row — caller contract, documented).
    *
    * Output: (node, dist) for reached nodes, dist round(6) at emission
    * (intermediate state stays raw so path sums never requantize).
    *
    * Scale shape (100 TB): per sweep ONE frontier-edge equi-join + a
    * min groupBy + a full-outer merge against the settled dist set,
    * localCheckpoint per round (the kCore/bfsHops iteration
    * discipline). The FRONTIER CUT is exact here too, not just for
    * hop counts: dist_k(v) = min(dist_{k-1}(v), min over in-edges of
    * dist_{k-1}(u) + w), and any u whose distance did NOT change at
    * sweep k-1 contributed the bit-identical candidate dist_{k-2}(u)+w
    * one sweep earlier — distances are monotone nonincreasing, so
    * re-offering it cannot improve anything. Only edges out of nodes
    * whose distance changed last sweep are relaxed; on near-dup
    * cluster graphs (diameter 2-4) the frontier collapses after the
    * cluster radius while the settled set stays out of the join.
    */
  def bellmanFordHops(edges: DataFrame, srcCol: String, dstCol: String,
      weight: Column, seed: Column, sweeps: Int = 3): DataFrame = {
    require(sweeps >= 1, s"bellmanFordHops: need sweeps>=1, got $sweeps")
    // one materialization of the edge derivation before the two-direction
    // union (the bfsHops discipline — the duplicated subtree dominated
    // the profile)
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        weight.cast("double").as("w"))
      .localCheckpoint()
    val und = e0
      .filter(col("src") =!= col("dst"))
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    val nodes = und.select(col("src").as("node")).distinct()
    var dist = nodes.filter(seed)
      .select(col("node"), lit(0.0).as("dist"))
      .localCheckpoint()
    // frontier = nodes whose dist changed last sweep (sweep 0: seeds).
    // The merge keeps the original SINGLE-exchange shape — settled and
    // relaxed rows union into one min groupBy, with the old distance
    // carried as a min-over-flagged-rows side aggregate so change
    // detection costs no second shuffle: changed = no old row (newly
    // reached) or new min strictly below the old.
    var frontier = dist
    for (_ <- 1 to sweeps) {
      val relaxed = frontier.join(und, frontier("node") === und("src"))
        .select(und("dst").as("node"),
          (frontier("dist") + und("w")).as("dist"), lit(false).as("_old"))
      val merged = dist
        .select(col("node"), col("dist"), lit(true).as("_old"))
        .unionByName(relaxed)
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"),
          min(when(col("_old"), col("dist"))).as("_od"))
        .localCheckpoint()
      dist = merged.select(col("node"), col("dist"))
      frontier = merged
        .filter(col("_od").isNull || col("dist") < col("_od"))
        .select(col("node"), col("dist"))
    }
    dist.select(col("node"), round(col("dist"), 6).as("dist"))
  }

  /** Edge-label extraction (`networkx.py:144-149`): (src, dst, label)
    * from an edge attribute, nulls dropped like the reference's
    * non-null label filter.
    */
  def edgeLabels(edges: DataFrame, srcCol: String, dstCol: String, attr: String): DataFrame =
    edges
      .filter(col(attr).isNotNull)
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), col(attr).cast("string").as("label"))

  /** Synchronous label-propagation community detection (Raghavan '07
    * made deterministic): every node starts labeled with its own id;
    * each sweep relabels a node with the MOST FREQUENT label among its
    * neighbors AND ITSELF, ties broken by the smallest label. The
    * self-vote is what makes fixed-sweep synchronous LPA usable: a
    * bare neighbor vote oscillates with period 2 on any isolated pair
    * (u,v swap labels forever), while with the self-vote a pair/clique
    * converges to its min id in one sweep and denser mixed regions
    * settle by majority. Fully deterministic — replayed sweep-for-sweep
    * by the oracle's chained CTEs.
    *
    * Output: (node, community) — community = the converged label.
    *
    * Scale shape (100 TB): per sweep ONE (node, label) count groupBy +
    * one per-node argmax window, both partitioned by the node key;
    * iterations is a small constant (near-dup graphs: quasi-clique
    * diameter 2-4).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"labelPropagation: need iterations >= 1, got $iterations")
    val und0 = edges.select(col(srcCol).as("_a"), col(dstCol).as("_b"))
      .unionByName(edges.select(col(dstCol).as("_a"), col(srcCol).as("_b")))
    // self-edge per vertex = the self-vote. PERSISTED: the edge frame
    // feeds every sweep's join (and the label seed) — without it each
    // sweep re-executes the caller's whole candidate-pair lineage
    // (measured 12.6 s -> 1.4 s at sf0.1 on the ngram near-dup graph)
    val und = und0.unionByName(und0.select(col("_a"), col("_a").as("_b")))
      .distinct()
      .persist()
    var labels = und.select(col("_a").as("_id")).distinct()
      .select(col("_id"), col("_id").as("_lbl"))
    val w = Window.partitionBy(col("_a")).orderBy(col("_c").desc, col("_lbl"))
    for (_ <- 1 to iterations) {
      // eager per-sweep checkpoint truncates the doubling join lineage
      // (the dedupClusters pointer-jumping discipline)
      labels = und.join(labels, und("_b") === labels("_id"))
        .groupBy(col("_a"), col("_lbl")).agg(count(lit(1)).as("_c"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("_a").as("_id"), col("_lbl"))
        .localCheckpoint()
    }
    labels.select(col("_id").as("node"), col("_lbl").as("community"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the undirected edge set, each edge counted
    * in both orientations (the standard symmetrization). Positive =
    * hubs attach to hubs, negative = hub-and-spoke. Degrees and all
    * five moment sums are exact BIGINTs over the edge-end table
    * ([[graft.operators.Stats.olsSimple]] discipline); doubles only in
    * the final fixed-order combination. Null when degree variance is 0
    * (regular graph). Output one row: (m, r) with m the undirected
    * edge count.
    *
    * Scale shape (100 TB): edge dedup + one degree groupBy + one
    * degree join per side + one global aggregate — all on the edge
    * key space.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the edge set feeds the degree groupBy AND both sides of the
    // endpoint join — persisted so a caller's expensive candidate-pair
    // lineage executes once (7.6 -> 1.5 s at sf0.1 on the ngram graph),
    // the invariant-35 exception again
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v"))
      .distinct()
      .persist()
    val both = e.unionByName(e.select(col("_v").as("_u"), col("_u").as("_v")))
    val deg = both.groupBy(col("_u").as("_id")).agg(count(lit(1)).as("_d"))
    val ends = both
      .join(deg.select(col("_id").as("_u"), col("_d").as("_du")), Seq("_u"))
      .join(deg.select(col("_id").as("_v"), col("_d").as("_dv")), Seq("_v"))
    val agg0 = ends.agg(count(lit(1)).as("_n2"),
      sum(col("_du")).as("_sx"), sum(col("_dv")).as("_sy"),
      sum(col("_du") * col("_dv")).as("_sxy"),
      sum(col("_du") * col("_du")).as("_sxx"),
      sum(col("_dv") * col("_dv")).as("_syy"))
    val nD = col("_n2").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val covN = nD * col("_sxy").cast("double") - sx * sy
    val varXN = nD * col("_sxx").cast("double") - sx * sx
    val varYN = nD * col("_syy").cast("double") - sy * sy
    agg0.select((col("_n2") / 2).cast("long").as("m"),
      when(varXN > 0 && varYN > 0,
        round(covN / sqrt(varXN * varYN), 6)).as("r"))
  }

  /** Newman modularity Q of a community assignment over an undirected
    * graph — EXACTLY, as one division of two BIGINTs: Q = Σ_c(e_c/m −
    * (d_c/2m)²) rearranges to (4m·e_intra − Σ_c d_c²)/(4m²), where
    * e_intra counts intra-community edges, d_c sums member degrees and
    * m counts undirected edges — so the per-community float sum (the
    * usual ordering hazard) never exists. BIGINT bound: 4m² < 9.2e18 →
    * m ≤ 1.5e9 edges per evaluated graph; past that promote the two
    * totals to DECIMAL(38,0). Output one row: (m, intra_edges, q),
    * q round(6), null for an empty edge set.
    *
    * Scale shape (100 TB): edge dedup, one two-sided assignment join,
    * one degree groupBy, one per-community roll-up — every stage keyed,
    * no window, no fold.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assign: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("_u"),
        greatest(col(srcCol), col(dstCol)).as("_v"))
      .filter(col("_u") =!= col("_v"))
      .distinct()
    val a = assign.select(col(nodeCol).as("_id"), col(commCol).as("_c"))
    val withC = e
      .join(a.select(col("_id").as("_u"), col("_c").as("_cu")), Seq("_u"))
      .join(a.select(col("_id").as("_v"), col("_c").as("_cv")), Seq("_v"))
    val mIntra = withC.agg(count(lit(1)).as("m"),
      sum(when(col("_cu") === col("_cv"), 1L).otherwise(0L)).as("intra_edges"))
    val both = e.unionByName(e.select(col("_v").as("_u"), col("_u").as("_v")))
    val deg = both.groupBy(col("_u").as("_id")).agg(count(lit(1)).as("_d"))
    val dc2 = deg.join(a, Seq("_id"))
      .groupBy(col("_c")).agg(sum(col("_d")).as("_dc"))
      .agg(sum(col("_dc") * col("_dc")).as("_sdc2"))
    mIntra.crossJoin(broadcast(dc2))
      .select(col("m"), col("intra_edges"),
        when(col("m") > 0,
          round((lit(4L) * col("m") * col("intra_edges") - col("_sdc2"))
            .cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6))
          .as("q"))
  }

  /** Common-neighbor link prediction over a bipartite edge list
    * (entity, neighbor): for every entity pair sharing ≥1 neighbor,
    * the shared-neighbor count and the Jaccard of their (capped)
    * neighbor sets — the classic "suppliers serving the same
    * customers" / "users touching the same items" candidate generator.
    *
    * Shape is the LSH-band candidate pattern: edges dedup to one row
    * per (entity, neighbor), HUB NEIGHBORS above `maxDegree` are
    * dropped before the pair stage (a neighbor of degree d contributes
    * d(d−1)/2 pairs — one mega-hub is quadratic; the cap trades those
    * low-signal pairs away, same recall trade as Dedup's maxShingleDf,
    * and the emitted degrees/Jaccard are consistently those of the
    * CAPPED sets), and the pair stage is a self-equi-join on the
    * neighbor key co-partitioned by one exchange. cn and degrees are
    * exact BIGINTs; jaccard = cn/(dₐ+d_b−cn) is one exact-integer
    * division, round(6).
    *
    * Output: (id_a, id_b, cn, deg_a, deg_b, jaccard), id_a < id_b.
    *
    * Scale shape (100 TB): dedup groupBy + neighbor-degree groupBy
    * reuse one exchange; the self-join shuffles once on the neighbor
    * key with the skew bounded by `maxDegree`; the pair roll-up is
    * map-side combinable.
    */
  def commonNeighbors(edges: DataFrame, idCol: String, neighborCol: String,
      maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2, s"commonNeighbors: maxDegree must be >= 2, got $maxDegree")
    val e = edges.select(col(idCol).as("_id"), col(neighborCol).as("_nb"))
      .distinct()
    val hubs = e.groupBy("_nb").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") <= maxDegree)
      .select("_nb")
    // `kept` feeds FOUR consumers (degrees + both self-join sides);
    // without a persist each re-executes the scan→dedup→hub-filter
    // lineage (measured 4 scans in the executed plan, 3.6 s -> 1.9 s
    // at sf0.1 with the persist) — the invariant-35 exception where
    // branches re-run work exchange reuse cannot share
    val kept = e.join(hubs, Seq("_nb")).persist()
    val deg = kept.groupBy("_id").agg(count(lit(1)).as("_d"))
    val pairs = kept.as("x")
      .join(kept.as("y"),
        col("x._nb") === col("y._nb") && col("x._id") < col("y._id"))
      .groupBy(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .agg(count(lit(1)).as("cn"))
    pairs
      .join(deg.select(col("_id").as("id_a"), col("_d").as("deg_a")), Seq("id_a"))
      .join(deg.select(col("_id").as("id_b"), col("_d").as("deg_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cn"), col("deg_a"), col("deg_b"),
        round(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"), 6).as("jaccard"))
  }
}
