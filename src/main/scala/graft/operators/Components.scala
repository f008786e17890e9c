package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Graph kernels (MADlib `graph` module parity): ranking, centrality,
  * paths, communities and components. Every iterative kernel cuts its
  * lineage with an eager localCheckpoint per round, except [[pageRank]]
  * and [[hits]], whose node-scale state rides the driver.
  */
object Components {

  /** PageRank with a FIXED iteration count — the MADlib `pagerank`
    * surface (Hellerstein et al. 2012, public method; Page et al. 1999
    * for the algorithm), the other graph kernel a dedup/ranking
    * pipeline wants (authority scoring over a similarity or
    * interaction graph). Simplified model (matching the oracle
    * formula): rank = (1−d)/N + d·Σ in-contribs, dangling mass not
    * redistributed — a node with no out-edges leaks its damped mass,
    * the common simplification.
    *
    * Scale: the node-scale state is held on the driver — the
    * out-degrees, collected once, and each round's contribution sums
    * cs. A rank is the closed form (1−d)/N + d·coalesce(cs, 0) (round
    * 0: 1/N); the driver turns it into each source's share rank/deg,
    * and a round is one [[sumShares]] over the single edge copy, two
    * jobs. Returns (id, rank). */
  def pageRank(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    val (edges, nodes, n) = graph(edgesDf, srcCol, dstCol)
    val deg = NodeState(edges.groupBy("src")
      .agg(count(lit(1)).cast("double")).collect())
    var cs: Option[NodeState] = None // None: every rank is 1/N
    for (_ <- 0 until iterations) {
      val share = deg.map((src, d) => cs.fold(1.0 / n / d)(s =>
        ((1.0 - damping) / n + damping * s.get(src).getOrElse(0.0)) / d))
      cs = Some(sumShares(edges, "src", "dst", share))
    }
    nodes.select(col("id"), cs.fold(lit(1.0) / lit(n))(s =>
      lit((1.0 - damping) / n) +
        lit(damping) * coalesce(s.lookup(nodes), lit(0.0)))
      .as("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999; MADlib graph `hits`
    * module parity): k rounds of authority = Σ hub over in-edges,
    * hub = Σ authority over out-edges, each vector L2-normalized per
    * round like MADlib. Returns (id, hub, auth) for every node —
    * nodes with no in-edges carry authority 0, no out-edges hub 0.
    *
    * Scale: the [[pageRank]] dataflow. A half-round's state is the
    * collected raw sums over their L2 norm, which the driver sums in id
    * order (a missing node scores 0); the next half-round is one
    * [[sumShares]], two jobs. Every hub starts at 1.0, so round 0's
    * authority sums are the in-degrees. */
  def hits(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    val (edges, nodes, _) = graph(edgesDf, srcCol, dstCol)
    def unit(raw: NodeState): NodeState = {
      val norm = math.sqrt(raw.values.foldLeft(0.0)((a, c) => a + c * c))
      raw.map((_, c) => c / norm)
    }
    var hub: Option[NodeState] = None // None: every hub is 1.0
    var auth: Option[NodeState] = None // None: every authority is 0.0
    for (_ <- 0 until iterations) {
      val a = unit(hub match {
        case None => NodeState(edges.groupBy("dst")
          .agg(count(lit(1)).cast("double")).collect())
        case Some(h) => sumShares(edges, "src", "dst", h)
      })
      auth = Some(a)
      hub = Some(unit(sumShares(edges, "dst", "src", a)))
    }
    def score(v: Option[NodeState], start: Double): Column =
      v.fold(lit(start))(s => coalesce(s.lookup(nodes), lit(0.0)))
    nodes.select(col("id"), score(hub, 1.0).as("hub"),
      score(auth, 0.0).as("auth"))
  }

  /** The (src, dst) edge checkpoint of a pair relation, its node
    * checkpoint (id) and the node count, observed on the node
    * checkpoint itself (no count job). */
  private def graph(edgesDf: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame, Double) = {
    val edges = edgesDf
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().localCheckpoint(eager = true)
    val n = Observation()
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .observe(n, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    (edges, nodes, n.get("n").asInstanceOf[Long].toDouble)
  }

  /** One round of [[pageRank]] or [[hits]]: Σ share(`from`) over the
    * edges by `to`, map-side partial sums, collected once. `share`
    * ships as one broadcast variable (a BroadcastExchange's transport
    * without its collect job), destroyed once the collect returns. The
    * edge checkpoint's partitioning is unknown under AQE, so the map
    * stage plus the collect, two jobs, is a Catalyst round's floor. A
    * `from` with no share adds nothing; a `to` that gains none has no
    * row. */
  private def sumShares(edges: DataFrame, from: String, to: String,
      share: NodeState): NodeState = {
    val b = edges.sparkSession.sparkContext.broadcast(share)
    try NodeState(edges.groupBy(col(to).as("id"))
      .agg(sum(NodeState.lookup(b)(col(from)))).collect())
    finally b.destroy()
  }

  /** Node-scale state held on the driver: one value per node id, in
    * primitive arrays sorted by id (16 bytes a node, looked up by
    * binary search). */
  private final class NodeState(ids: Array[Long],
      val values: Array[Double]) extends Serializable {
    def get(id: Long): Option[Double] = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i < 0) None else Some(values(i))
    }
    def map(f: (Long, Double) => Double): NodeState =
      new NodeState(ids, ids.indices.map(i => f(ids(i), values(i))).toArray)
    /** `nodes`' ids looked up in a broadcast their lineage keeps. */
    def lookup(nodes: DataFrame): Column = NodeState.lookup(
      nodes.sparkSession.sparkContext.broadcast(this))(col("id"))
  }

  private object NodeState {
    /** Collected (id, value) rows; a null id or value is no state. */
    def apply(rows: Array[Row]): NodeState = {
      val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .sortBy(_.getLong(0))
      new NodeState(kept.map(_.getLong(0)), kept.map(_.getDouble(1)))
    }
    /** The value of an id column, null where the state has none. */
    def lookup(b: Broadcast[NodeState]): Column => Column =
      udf((id: Long) => b.value.get(id)).withName("node_state")(_)
  }

  /** Connected components over a pair relation — the canonicalization
    * step of a dedup pipeline: near-dup kernels (minhash/simhash/jaccard)
    * emit PAIRS, but keep-one-per-cluster needs each document's duplicate
    * CLUSTER, i.e. components of the pair graph. (The reference has no
    * graph operator; recursive reachability runs through WITH RECURSIVE,
    * nodeRecursiveunion.c — this is the same fixpoint specialised to
    * min-label convergence.)
    *
    * Algorithm: distributed min-label propagation WITH pointer jumping.
    * Every vertex starts labelled with itself; each round (a) pulls
    * neighbour labels across edges and keeps the min, then (b) shortcuts
    * through the label table itself (comp := label(comp) — labels only
    * decrease, so following your label's label is always sound). Step (a)
    * alone needs diameter-many rounds; the jump in (b) doubles the
    * effective reach per round, giving O(log diameter) convergence — the
    * same guarantee as large-star/small-star [Kiveris et al., "Connected
    * Components in MapReduce and Beyond"] with a simpler dataflow. Each
    * round is two equi-joins + one partial/final min-aggregate — no
    * driver state beyond a changed-label count, no all-pairs blowup.
    * Lineage is cut with localCheckpoint every round; the rounds run on
    * [[RecursiveCte.fixpoint]] and stop after the first round that
    * changes no label.
    *
    * Returns (`id`, `component`) for every vertex that appears in
    * `pairs`, where `component` is the least vertex id in the component. */
  def connectedComponents(
      pairs: DataFrame, a: String, b: String,
      maxIter: Int = 25): DataFrame = {
    val src = pairs.select(col(a).cast("long").as("src"),
      col(b).cast("long").as("dst"))
    // symmetric edge list: label flow must go both ways
    val edges = src
      .union(src.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = true)
    // Round-0 pull fused into init: every vertex appears as a `src` in
    // the symmetric edge list, so grouping edges by src yields each
    // vertex's min neighbour directly — label(v) = min(v, min-neighbour)
    // without the join+agg+join round the loop would spend on it.
    val init = edges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("src")).as("component"))
      .localCheckpoint(eager = true)
    RecursiveCte.fixpoint(init, maxIter, "connectedComponents") {
      (labels, _) =>
      // (a) pull the neighbour labels, keep the min of (own, neighbours).
      // The vertex's own row rides along with `own` = its current label,
      // so convergence is decided in this same pass (no probe join).
      val pulled = edges
        .join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("component"),
          lit(null).cast("long").as("own"))
      val minned = labels.select(col("id"), col("component"),
          col("component").as("own"))
        .union(pulled)
        .groupBy("id")
        .agg(min("component").as("component"), max("own").as("own"))
      // (b) pointer jump ×2: comp := label(label(comp)). Labels only
      // decrease, so shortcutting through any sound label table is
      // sound; one jump doubles reach per round (r → 2r+1), the second
      // — through the already-jumped table — roughly squares the rate
      // (r → 4r+3). On a depth-d chain that is ~log4 d rounds instead
      // of ~log2 d, and each jump is one self-equi-join — far cheaper
      // than the pull+aggregate round it replaces.
      val jump1 = minned.select(col("id").as("cid"),
        col("component").as("ccomp"))
      val step1 = minned
        .join(jump1, minned("component") === jump1("cid"), "left")
        .select(minned("id").as("id"),
          coalesce(col("ccomp"), minned("component")).as("component"),
          col("own"))
      val jump2 = step1.select(col("id").as("cid2"),
        col("component").as("ccomp2"))
      // observed on the checkpoint itself: no probe job after it
      val changed = org.apache.spark.sql.Observation()
      val next = step1
        .join(jump2, step1("component") === jump2("cid2"), "left")
        .select(step1("id").as("id"),
          coalesce(col("ccomp2"), step1("component")).as("component"),
          col("own"))
        .observe(changed,
          count(when(col("component") =!= col("own"), 1)).as("n"))
        .select("id", "component")
        .localCheckpoint(eager = true)
      (next, changed.get("n") != 0L)
    }
  }

  /** Dedup-pipeline composition: given candidate pairs and the full
    * corpus, pick each cluster's canonical (least-id) document and tag
    * every document with its cluster id — documents with no duplicate
    * form their own singleton cluster. */
  def canonicalize(
      docs: DataFrame, idCol: String, pairs: DataFrame,
      a: String, b: String): DataFrame = {
    val comps = connectedComponents(pairs, a, b)
    docs.join(comps, docs(idCol) === comps("id"), "left")
      .withColumn("cluster", coalesce(col("component"), docs(idCol)))
      .withColumn("is_canonical", docs(idCol) === col("cluster"))
      .drop("id", "component")
  }

  /** Single-source shortest paths — MADlib's graph_sssp (Bellman–Ford:
    * each round relaxes EVERY edge against the current frontier, min
    * combines). BFS hop counts fall out with unit weights.
    *
    * Scale shape mirrors [[pageRank]]: the distance relation is
    * node-scale and broadcasts into the edge relax join, so the edge
    * list is never shuffled; each round's only exchange is the dst-keyed
    * min aggregate (map-side combinable), and each round localCheckpoints
    * the node-scale result to cut lineage. `iterations` bounds path
    * length (Bellman–Ford needs |V|−1 for the general case; callers with
    * small diameters pass less). Integer weights keep the relaxed sums
    * exact, so min-ties are value-identical on any relax order. */
  def sssp(
      edgesDf: DataFrame, srcCol: String, dstCol: String, wCol: String,
      source: Long, iterations: Int): DataFrame = {
    val edges = edgesDf.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(wCol).cast("long").as("w")).localCheckpoint(eager = true)
    val spark = edgesDf.sparkSession
    import spark.implicits._
    var dist = Seq((source, 0L)).toDF("id", "dist")
    for (_ <- 0 until iterations) {
      val relaxed = edges
        .join(broadcast(dist), edges("src") === dist("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy("id").agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = true)
    }
    dist
  }

  /** Triangle enumeration by degree ordering (the classic MapReduce
    * formulation — Suri & Vassilvitskii 2011, "Counting Triangles and
    * the Curse of the Last Reducer"): orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, self-join the
    * oriented edges on the shared source to form wedges, then verify
    * the closing edge with one more equi-join. Each triangle is emitted
    * exactly once as (a, b, c) with a < b < c.
    *
    * Scale: orientation caps every vertex's out-degree at O(sqrt(|E|)),
    * so the wedge join is bounded even on power-law graphs — the
    * "last reducer" (a celebrity vertex's neighbor pairs) never
    * materializes. All three stages are hash equi-joins; no vertex
    * neighborhood is ever collected to one row. */
  def triangles(
      edgesDf: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // undirected, deduped, no self-loops: keep one (lo, hi) row per edge
    val und = edgesDf.select(
      least(col(srcCol), col(dstCol)).cast("long").as("lo"),
      greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val deg = und.select(col("lo").as("id"))
      .union(und.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) -> high-(deg, id)
    val oriented = und
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), "lo")
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), "hi")
      .select(
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("u"),
        when(col("dlo") < col("dhi") ||
          (col("dlo") === col("dhi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("v"))
    // wedges u->v, u->w (v < w in oriented order is not guaranteed;
    // order by id so the closing probe is a single canonical lookup)
    val e1 = oriented.select(col("u"), col("v").as("x"))
    val e2 = oriented.select(col("u"), col("v").as("y"))
    val wedges = e1.join(e2, "u").filter(col("x") < col("y"))
    // the closing edge (x, y) may be oriented either way; und is
    // canonical (lo < hi) and x < y already
    val tri = wedges.join(
      und.select(col("lo").as("x"), col("hi").as("y")), Seq("x", "y"))
    // sorted triple: x < y always; u sits anywhere relative to them
    tri.select(
      least(col("u"), col("x")).as("a"),
      when(col("u") < col("x"), col("x"))
        .when(col("u") > col("y"), col("y"))
        .otherwise(col("u")).as("b"),
      greatest(col("u"), col("y")).as("c"))
  }

  /** All-pairs shortest paths (MADlib `graph_apsp`): multi-source
    * Bellman–Ford — the sssp relax rounds run for EVERY source at once
    * over a (source, vertex, dist) relation. `wCol` = None is BFS
    * (unit weights). Integer weights keep path sums exact. Same O(V²)
    * state contract as [[closeness]] (which consumes this). Each round
    * is one equi-join on the frontier vertex + one min-aggregate with
    * map-side partials; lineage cut per round. */
  def apsp(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      wCol: Option[String], iterations: Int): DataFrame = {
    val wExpr = wCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val edges = edgesDf
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), wExpr.as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .localCheckpoint(eager = true)
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    var d = nodes.select(col("id").as("s"), col("id").as("v"),
      lit(0L).as("dist"))
    for (_ <- 0 until iterations) {
      val relax = d.join(edges, d("v") === edges("src"))
        .select(col("s"), col("dst").as("v"),
          (col("dist") + col("w")).as("dist"))
      d = d.unionByName(relax).groupBy("s", "v")
        .agg(min(col("dist")).as("dist")).localCheckpoint(eager = true)
    }
    d
  }

  /** Closeness centrality (MADlib `graph_closeness` parity — MADlib
    * computes it from APSP, and so does this): multi-source BFS with a
    * FIXED round count over the (source, vertex) distance relation,
    * then per-source aggregates — k_degree (vertices reached),
    * sum_dist, inverse_sum_dist, inverse_avg_dist, sum_inverse_dist
    * (MADlib's four measures). Unit weights keep distances exact
    * longs; the Σ 1/d term quantizes each inverse hop to micros LONGS
    * before summing (order-free), so every measure is engine-identical.
    *
    * Scale: the distance relation is |V|·|reached| — closeness IS
    * all-pairs (MADlib's graph_closeness carries the same O(V²)
    * contract); run it on catalog-scale graphs (dimension graphs,
    * cluster topologies) or pre-restrict the source set. Each round is
    * one equi-join + one min-aggregate with map-side partials. */
  def closeness(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 4): DataFrame = {
    val d = apsp(edgesDf, srcCol, dstCol, None, iterations)
    val other = col("v") =!= col("s")
    d.groupBy(col("s").as("id")).agg(
      count(when(other, 1)).as("k_degree"),
      sum(when(other, col("dist")).otherwise(0L)).as("sum_dist"),
      // greatest(dist, 1): the s=v rows (dist 0) are discarded by the
      // `when`, but ANSI-mode codegen still evaluates the divide — keep
      // the divisor nonzero without changing any kept value
      sum(when(other,
        floor(lit(1.0) / greatest(col("dist"), lit(1L)) * lit(1000000d)
          + lit(0.5)).cast("long")).otherwise(0L)).as("sinv_m"))
      .select(col("id"), col("k_degree"), col("sum_dist"),
        // a sink source reaches nothing: measures are NULL (MADlib
        // leaves unreachable rows out the same way), never a ÷0
        when(col("sum_dist") > 0,
          lit(1.0) / col("sum_dist").cast("double")).as("inv_sum"),
        when(col("sum_dist") > 0,
          col("k_degree").cast("double") / col("sum_dist").cast("double"))
          .as("inv_avg"),
        (col("sinv_m").cast("double") / lit(1000000d)).as("sum_inv"))
  }

  /** Synchronous label propagation community detection (Raghavan,
    * Albert & Kumara 2007 — the LPA every graph toolkit ships; MADlib
    * covers the slot with its graph module's community kernels).
    * Deterministic restatement: labels start as node ids; each FIXED
    * round every node adopts the most frequent label over its
    * neighborhood INCLUDING itself (the self-loop damping that keeps
    * synchronous LPA from oscillating on bipartite graphs), ties
    * broken by the smallest label. All state is exact integers, so
    * both engines agree bit-for-bit — no rounding needed.
    *
    * The argmax is ONE aggregate via the scalar key c·1e8 − label
    * (unique per label, so max is tie-free and picks max count then
    * min label); node ids must be < 1e8 — callers with wider ids scale
    * the constant.
    *
    * Scale: the pageRank dataflow — the node-scale label relation
    * broadcasts into the edge join (edges never re-shuffled), each
    * round's only corpus-scale exchange is the (node, label) count
    * with map-side partials; lineage cut per round. */
  def labelPropagation(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    val e0 = edgesDf.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).distinct()
    // undirected + self-loops, deduped
    val und = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .union(e0.select(col("a").as("src"), col("a").as("dst")))
      .union(e0.select(col("b").as("src"), col("b").as("dst")))
      .distinct().localCheckpoint(eager = true)
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    for (_ <- 0 until iterations) {
      val cnt = und.join(broadcast(labels), und("dst") === labels("id"))
        .select(und("src").as("v"), col("lab"))
        .groupBy("v", "lab").agg(count(lit(1)).as("c"))
      labels = cnt.groupBy("v")
        .agg(max_by(col("lab"), col("c") * lit(100000000L) - col("lab"))
          .as("lab"))
        .select(col("v").as("id"), col("lab")).localCheckpoint(eager = true)
    }
    labels
  }

  /** k-core decomposition by synchronous peeling (Batagelj–Zaveršnik;
    * the distributed fixed-round restatement): each round drops every
    * node whose degree within the surviving subgraph is < k; the
    * k-core is the fixpoint. `rounds` is FIXED (not
    * converge-detected) so a DuckDB unroll of the same rounds is
    * bit-identical — callers size it to the fixture's peel depth
    * (peeling removes ≥1 node per non-converged round, and real
    * graphs converge in a handful).
    *
    * Reference slot: GPDB graph analytics (MADlib `graph` module
    * measures); k-core itself is the standard subgraph-robustness
    * operator the module's wcc/measures users pair it with.
    *
    * Scale: edges are loaded once and never re-shuffled — each round
    * semi-joins the node-scale `alive` relation (broadcast) on both
    * endpoints and re-counts degrees with map-side partials; the only
    * corpus-scale exchange per round is the (node) degree count.
    * Lineage cut per round. Returns (id, deg) for k-core members.
    * `deg` is the node's degree within the LAST SURVIVING subgraph
    * (the alive set of the final round), not re-counted against the
    * returned member set: if the fixed rounds stop short of the
    * fixpoint, deg can include edges to nodes the final `>= k` filter
    * excluded. At the fixpoint the two coincide; the oracle unrolls
    * identical rounds, so cross-engine compare is unaffected either
    * way. */
  def kCore(
      edgesDf: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 6): DataFrame = {
    val e0 = edgesDf.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint(eager = true)
    var deg = und.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    for (_ <- 0 until rounds) {
      val alive = deg.filter(col("deg") >= k).select(col("id"))
      deg = und
        .join(broadcast(alive), und("src") === alive("id"), "left_semi")
        .join(broadcast(alive.withColumnRenamed("id", "id2")),
          und("dst") === col("id2"), "left_semi")
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg")).localCheckpoint(eager = true)
    }
    deg.filter(col("deg") >= k)
  }

  /** Betweenness centrality (Brandes 2001), level-synchronous over
    * ALL sources simultaneously — the remaining centrality beside
    * pageRank/closeness/hits. Unweighted undirected graph, FIXED
    * BFS depth `levels` (pairs beyond it don't contribute — the
    * kcore fixed-round contract, bit-identical across engines
    * converged or not).
    *
    * Forward: per level one (s, v)-keyed aggregate sums predecessor
    * path counts σ (exact longs), frontier = new (s, v) pairs via
    * anti-join on the visited set. Backward: dependencies flow one
    * level at a time — δ(v) = Σ_{w ∈ succ} σ_v/σ_w · (1 + δ_w);
    * every per-edge term micros-quantizes before the per-(s, v) sum,
    * so accumulation is order-free integer micros and both engines
    * agree exactly. bc(v) = Σ_{s≠v} δ_s(v) / 2 (undirected halving).
    *
    * Scale: state is (source × node)-keyed — the apsp/closeness
    * regime (all-sources betweenness is quadratic by nature; sampled
    * sources = the standard approximation, same dataflow with a
    * source filter). Edges never re-shuffled; per-level exchanges are
    * frontier-scale with map-side partials; lineage cut per level. */
  def betweenness(
      edgesDf: DataFrame, srcCol: String, dstCol: String,
      levels: Int = 4, sources: Int = 0): DataFrame = {
    val e0 = edgesDf.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val und = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint(eager = true)
    val nodes = und.select(col("src").as("id")).distinct()
    // sources = 0 → exact (all sources); k → the deterministic
    // modulus sample (Brandes sampling, Bader et al. — per-source
    // cost is what bounds all-pairs work at scale)
    val srcNodes =
      if (sources <= 0) nodes
      else {
        val mod = math.max(1L, nodes.count() / sources)
        nodes.filter(col("id") % mod === 0).orderBy(col("id"))
          .limit(sources)
      }
    // forward BFS: per-level frontiers with path counts
    val f0 = srcNodes.select(col("id").as("s"), col("id").as("v"),
      lit(1L).as("sig"), lit(0).as("dist")).localCheckpoint(eager = true)
    val frontiers = scala.collection.mutable.ArrayBuffer(f0)
    var vis = f0
    for (lev <- 1 to levels) {
      val prev = frontiers.last
      val nxt = prev.join(und, prev("v") === und("src"))
        .select(col("s"), col("dst").as("v"), col("sig"))
        .join(vis.select(col("s").as("s2"), col("v").as("v2")),
          col("s") === col("s2") && col("v") === col("v2"), "left_anti")
        .groupBy("s", "v").agg(sum(col("sig")).as("sig"))
        .withColumn("dist", lit(lev)).localCheckpoint(eager = true)
      frontiers += nxt
      vis = vis.unionByName(nxt).localCheckpoint(eager = true)
    }
    // backward accumulation: δ in exact integer micros, one level at
    // a time (BFS DAG edges connect adjacent levels only)
    var deltaPrev = frontiers(levels)
      .select(col("s"), col("v"), lit(0L).as("dm"))
    val deltas = scala.collection.mutable.ArrayBuffer(deltaPrev)
    for (lev <- (levels - 1) to 0 by -1) {
      val cur = frontiers(lev)
      val succ = frontiers(lev + 1)
        .select(col("s").as("ws"), col("v").as("wv"), col("sig").as("wsig"))
      val dp = deltaPrev
        .select(col("s").as("ds"), col("v").as("dv"), col("dm"))
      val term = floor(
        col("sig").cast("double") / col("wsig").cast("double") *
          (lit(1.0) + col("dm").cast("double") / lit(1000000d)) *
          lit(1000000d) + lit(0.5)).cast("long")
      val sums = cur.join(und, cur("v") === und("src"))
        .join(succ, col("ws") === col("s") && col("wv") === col("dst"))
        .join(dp, col("ds") === col("s") && col("dv") === col("dst"))
        .select(col("s"), cur("v").as("v"), term.as("t"))
        .groupBy("s", "v").agg(sum(col("t")).as("tm"))
      deltaPrev = cur.select(col("s"), col("v"))
        .join(sums, Seq("s", "v"), "left")
        .select(col("s"), col("v"), coalesce(col("tm"), lit(0L)).as("dm"))
        .localCheckpoint(eager = true)
      deltas += deltaPrev
    }
    // bc is emitted UNROUNDED: micros-sum / 1e6 / 2 is an exact
    // multiple of 5e-7 in both engines, and rounding it at 6 dp would
    // hit the half-micros presentation-tie trap (NOTES round-8)
    deltas.reduce(_ unionByName _)
      .filter(col("v") =!= col("s"))
      .groupBy(col("v").as("id"))
      .agg((sum(col("dm")).cast("double") / lit(1000000d) / 2.0)
        .as("bc"))
  }
}
