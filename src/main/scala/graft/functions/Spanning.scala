package graft.functions

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Minimum spanning forest by Borůvka's algorithm — the canonical
  * O(log n)-round distributed MST (each round every component grabs
  * its cheapest outgoing edge, components merge, the component count
  * at least halves). The catalog instance runs on the nation-level
  * trade graph (25 nodes, ≤300 weighted edges collapsed from the
  * full lineitem⋈orders fact join), but the implementation is the
  * generic edge-relation form: at 100 TB the per-round work is two
  * component-keyed equi-joins plus one groupBy-min — all map-side
  * combinable — and the merge step contracts the (bounded, halving)
  * component-id graph with the existing alternating-star CC.
  *
  * Weights are EXACT integers made globally DISTINCT by packing the
  * endpoint pair into the low bits (w = cents·1024 + a·25 + b, one
  * row per unordered pair so the packing is injective); with
  * distinct weights the MST is unique, which is what lets a
  * declarative oracle exist at all: by the cycle property, an edge
  * is in the MST iff its endpoints are NOT connected by strictly
  * lighter edges — the DuckDB oracle states exactly that with a
  * recursive reachability CTE, no Borůvka replay.
  */
object Spanning {

  /** Generic Borůvka over an undirected weighted edge relation
    * `(src, dst, w)` with DISTINCT w (caller packs tie-breaks into
    * the weight; duplicate pairs must be pre-collapsed). Returns the
    * spanning-forest edge rows `(src, dst, w)`.
    *
    * Round shape: label endpoints with their current component, drop
    * intra-component edges, take each component's minimum edge
    * (min over struct(w, src, dst) — deterministic because w is
    * distinct), then contract the selected edges by running CC over
    * the component-id merge graph (nodes = component ids, a relation
    * that at least halves every round). Selected edges accumulate
    * into the forest; convergence = no cross-component edge left.
    * Round count is ⌈log₂(largest component)⌉ ≤ maxRounds; like
    * [[Clusters.connectedComponentsOn]] this throws rather than
    * return a partial forest. */
  def minimumSpanningForestOn(edges0: DataFrame,
      maxRounds: Int = 16): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    import spark.implicits._
    val comp0 = edges.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct().withColumn("c", col("node"))
      .localCheckpoint(true)
    val forest0 = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    try {
      // the count also forces the persist once, where round 1's cross
      // join used to
      val m = edges.count()
      Iterates.fixpoint(spark, "Boruvka", maxRounds, (comp0, forest0))(_ => m) {
        case ((comp, forest), round) =>
          val cs = comp.select(col("node").as("src"), col("c").as("cs"))
          val cd = comp.select(col("node").as("dst"), col("c").as("cd"))
          val cross = round.persist(edges.join(cs, "src").join(cd, "dst")
            .filter(col("cs") =!= col("cd")))
          if (cross.count() == 0) ((comp, forest), true)
          else {
            // each component's minimum incident edge, both orientations
            val picked = cross
              .select(explode(array(col("cs"), col("cd"))).as("c"),
                struct(col("w"), col("src"), col("dst")).as("e"))
              .groupBy("c").agg(min(col("e")).as("m"))
              .select(col("m.src").as("src"), col("m.dst").as("dst"),
                col("m.w").as("w"))
              .distinct() // mutual-min pairs pick the same edge twice
              .localCheckpoint(true)
            val grown = forest.union(picked).localCheckpoint(true)
            // contract: CC over the merge graph of component ids
            val merge = picked
              .join(cs, "src").join(cd, "dst").select("cs", "cd")
            val relabel = Clusters.connectedComponentsOn(merge)
              .select(col("node").as("oc"), col("lbl").as("nc"))
            // plain equi-join: the relabel relation is one row per
            // pre-merge component — small here, but at graph scale AQE
            // should pick the strategy, not a hardcoded broadcast
            ((comp.join(relabel, col("c") === col("oc"), "left")
              .select(col("node"), coalesce(col("nc"), col("c")).as("c"))
              .localCheckpoint(true), grown), false)
          }
      }._2
    } finally edges.unpersist()
  }

  /** Nation-to-nation trade edges: total lineitem cents between the
    * customer's and the supplier's nation (unordered pair, self
    * edges dropped), weight = cents·1024 + a·25 + b so all weights
    * are distinct (one row per pair; a,b < 25 ⇒ packing injective).
    * One fact join pipeline collapsed to ≤ 300 rows before any graph
    * work — the graph algebra never touches fact-table cardinality. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("cents"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey"))
          .cast("long").as("a"),
        greatest(col("c_nationkey"), col("s_nationkey"))
          .cast("long").as("b"),
        col("cents"))
      .groupBy("a", "b").agg(sum(col("cents")).as("cents"))
      .select(col("a").as("src"), col("b").as("dst"), col("cents"),
        (col("cents") * 1024 + col("a") * 25 + col("b")).as("w"))

  /** Catalog entry: the unique MST of the nation trade graph, with
    * the packed weight unpacked back to exact cents. */
  def graphMst(s: SparkSession, dir: String): DataFrame = {
    val e = tradeEdges(s, dir).localCheckpoint(true)
    minimumSpanningForestOn(e.select("src", "dst", "w"))
      .join(e.select(col("src"), col("dst"), col("cents")),
        Seq("src", "dst"))
      .select("src", "dst", "cents")
      .orderBy("src", "dst")
  }

  /** Reachability closure of a directed edge relation by log-
    * doubling (R ← R ∪ R∘R): fixpoint in ⌈log₂ diameter⌉ rounds,
    * each one self-equi-join + distinct. The closure is O(n²) rows,
    * so this spelling is for BOUNDED, COLLAPSED relations (dimension
    * graphs, state machines, category DAGs — the ts_theilsen
    * bounded-domain argument); on corpus-node-scale graphs run
    * FW-BW/coloring instead and say so. Convergence checked by row
    * count (monotone growing set), throws past maxRounds. */
  def transitiveClosureOn(edges: DataFrame, maxRounds: Int = 12): DataFrame = {
    val r0 = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .distinct().localCheckpoint(true)
    // rounds are sized from the closure's CURRENT row count
    Iterates.fixpoint(r0.sparkSession, "transitive closure", maxRounds,
        (r0, r0.count()))(_._2) {
      case ((r, n), _) =>
        val step = r.union(
            r.select(col("u"), col("v").as("m"))
              .join(r.select(col("u").as("m"), col("v")), "m")
              .select("u", "v"))
          .distinct().localCheckpoint(true)
        val n2 = step.count()
        ((step, n2), n2 == n)
    }._1
  }

  /** Strongly connected components of the DIRECTED nation trade
    * graph (a → b: customers of nation a bought from suppliers of
    * nation b): scc(v) = min over {v} ∪ {u : u⇝v ∧ v⇝u} on the
    * reachability closure — mutual reachability IS the SCC relation,
    * stated declaratively on both engines (the DuckDB oracle builds
    * the same closure with a recursive CTE). The trade digraph is a
    * collapsed 25-node dimension relation, which is what licenses
    * the closure spelling (see [[transitiveClosureOn]]). */
  def graphSccOn(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint(true)
    val r = transitiveClosureOn(e)
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    val mutual = r.select(col("u"), col("v"))
      .join(r.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"))
    nodes
      .join(mutual.select(col("v").as("node"), col("u").as("m")),
        Seq("node"), "left")
      .groupBy("node")
      .agg(least(min(col("m")), first(col("node"))).as("scc"))
      .select(col("node"),
        coalesce(col("scc"), col("node")).as("scc"))
      .orderBy("node")
  }

  /** Directed nation trade edges (distinct pairs, self-loops
    * dropped): customer nation → supplier nation. */
  private def tradeDirected(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .distinct()

  def graphScc(s: SparkSession, dir: String): DataFrame =
    graphSccOn(tradeDirected(s, dir))

  /** Per-component bipartiteness (2-colorability) of an undirected
    * graph, decided on the DOUBLE COVER: lift each edge (u,v) to
    * (u,p)→(v,1−p) states and close reachability from every node at
    * parity 0 (the closure runs once over the lifted edge relation,
    * reusing [[transitiveClosureOn]] with packed state ids
    * node·2+parity). A component is bipartite iff NO node is
    * reachable from its component root at BOTH parities — the odd-
    * cycle witness. Components come from the same closure (parity
    * ignored), root = min node. Output: one row per component with
    * its size and the count of odd-parity witnesses. */
  def graphBipartiteOn(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src").cast("long").as("a"),
        col("dst").cast("long").as("b"))
      .select(explode(array(struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().localCheckpoint(true)
    // double-cover edges on packed states: (a,p) -> (b, 1-p)
    val lifted = und.select(explode(array(
        struct((col("a") * 2).as("src"), (col("b") * 2 + 1).as("dst")),
        struct((col("a") * 2 + 1).as("src"), (col("b") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val closure = transitiveClosureOn(lifted) // state u reaches state v
    // node-level reachability (either parity) gives components
    val reach = closure
      .select(expr("u DIV 2").as("nu"), expr("v DIV 2").as("nv"))
      .distinct()
    val comp = und.select(col("a").as("nu")).distinct()
      .join(reach.select(col("nv").as("nu"), col("nu").as("m")),
        Seq("nu"), "left")
      .groupBy(col("nu").as("node"))
      .agg(least(min(col("m")), first(col("nu"))).as("root"))
      .select(col("node"), coalesce(col("root"), col("node")).as("root"))
    // odd witness: root@even reaches node at BOTH parities
    val fromRootEven = closure
      .select(expr("u DIV 2").as("root"), col("u").as("us"),
        expr("v DIV 2").as("node"), expr("v % 2").as("parity"))
      .filter(expr("u % 2 = 0"))
      .select("root", "node", "parity").distinct()
    val odd = fromRootEven.groupBy("root", "node")
      .agg(countDistinct(col("parity")).as("np"))
      .filter(col("np") === 2)
      .groupBy("root").agg(count(lit(1)).as("n_odd_nodes"))
    comp.groupBy("root").agg(count(lit(1)).as("n_nodes"))
      .join(odd.select(col("root").as("r2"), col("n_odd_nodes")),
        col("root") === col("r2"), "left")
      .select(col("root").as("component"), col("n_nodes"),
        coalesce(col("n_odd_nodes"), lit(0L)).as("n_odd_nodes"),
        (coalesce(col("n_odd_nodes"), lit(0L)) === 0).as("bipartite"))
      .orderBy("component")
  }

  def graphBipartite(s: SparkSession, dir: String): DataFrame =
    graphBipartiteOn(tradeDirected(s, dir))

  /** All-pairs shortest-path distances of an UNDIRECTED unweighted
    * graph by min-plus doubling: D ← min(D, D⊕D) with d₁+d₂ hops,
    * seeded with the edge relation at distance 1 and (v,v,0). Like
    * [[transitiveClosureOn]] the O(n²) distance relation restricts
    * this spelling to bounded collapsed graphs; convergence is the
    * exact monotone pair (row count non-decreasing, Σd non-
    * increasing) going stable. */
  def minPlusClosureOn(edges: DataFrame, maxRounds: Int = 12): DataFrame = {
    val sym = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    val d0 = sym.withColumn("d", lit(1L))
      .union(sym.select(explode(array(col("u"), col("v"))).as("u"))
        .distinct().select(col("u"), col("u").as("v"), lit(0L).as("d")))
      .groupBy("u", "v").agg(min(col("d")).as("d"))
      .localCheckpoint(true)
    // rounds are sized from the closure's current row count, which
    // rides the convergence signature (row count, Σd): no extra
    // action. The seed's Σd of -1 never matches, so round 0 never
    // converges.
    Iterates.fixpoint(d0.sparkSession, "min-plus closure", maxRounds,
        (d0, (d0.count(), -1L)))(_._2._1) {
      case ((d, sig), _) =>
        val step = d.union(
            d.select(col("u"), col("v").as("m"), col("d").as("d1"))
              .join(d.select(col("u").as("m"), col("v"), col("d").as("d2")),
                "m")
              .select(col("u"), col("v"), (col("d1") + col("d2")).as("d")))
          .groupBy("u", "v").agg(min(col("d")).as("d"))
          .localCheckpoint(true)
        val row = step.agg(count(lit(1)), sum(col("d"))).head()
        val next = (row.getLong(0), row.getLong(1))
        ((step, next), next == sig)
    }._1
  }

  /** Per-node eccentricity plus per-component diameter and radius of
    * the undirected nation trade graph — the "how stretched is this
    * network" readout (peripheral vs central nations). ecc(u) =
    * max_v dist(u,v) within u's component (component = min reachable
    * node, from the same closure); diameter/radius fold the bounded
    * per-component node set through one more grouped aggregate. */
  def graphEccentricityOn(edges: DataFrame): DataFrame = {
    val d = minPlusClosureOn(edges).localCheckpoint(true)
    val ecc = d.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("component"), max(col("d")).as("ecc"))
    val comp = ecc.groupBy("component")
      .agg(max(col("ecc")).as("diameter"), min(col("ecc")).as("radius"))
    ecc.join(broadcast(comp), "component")
      .select(col("node"), col("component"), col("ecc"),
        col("diameter"), col("radius"))
      .orderBy("node")
  }

  def graphEccentricity(s: SparkSession, dir: String): DataFrame =
    graphEccentricityOn(tradeDirected(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_mst" -> graphMst,
    "graph_scc" -> graphScc,
    "graph_bipartite" -> graphBipartite,
    "graph_eccentricity" -> graphEccentricity,
  )

  val oracles: Map[String, String] = Map(
    // Cycle property on distinct weights: edge ∈ MST ⇔ its endpoints
    // are not connected using only strictly lighter edges. The
    // recursive CTE computes, per edge (keyed by its unique weight),
    // the set of nodes reachable from src through lighter edges; the
    // edge survives iff dst is never reached.
    "graph_mst" ->
      """WITH RECURSIVE
        |e AS (SELECT src, dst, cents,
        |    cents * 1024 + src * 25 + dst AS w
        |  FROM (SELECT least(c_nationkey, s_nationkey) AS src,
        |      greatest(c_nationkey, s_nationkey) AS dst,
        |      CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |        AS BIGINT) AS cents
        |    FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    WHERE c_nationkey <> s_nationkey
        |    GROUP BY 1, 2)),
        |adj AS (SELECT src AS u, dst AS v, w FROM e
        |  UNION ALL SELECT dst, src, w FROM e),
        |r(eid, node) AS (
        |  SELECT w, src FROM e
        |  UNION
        |  SELECT r.eid, adj.v FROM r JOIN adj
        |    ON adj.u = r.node AND adj.w < r.eid)
        |SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
        |  cents
        |FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM r
        |  WHERE r.eid = e.w AND r.node = e.dst)
        |ORDER BY src, dst""".stripMargin,
    // SCC = mutual reachability on the transitive closure, min label
    // per equivalence class — the declarative statement the engine's
    // log-doubling closure must reproduce.
    "graph_scc" ->
      s"""WITH RECURSIVE
        |e AS ($tradeDirectedSql),
        |r(u, v) AS (SELECT src, dst FROM e
        |  UNION SELECT r.u, e.dst FROM r JOIN e ON e.src = r.v),
        |nodes AS (SELECT DISTINCT src AS n FROM e
        |  UNION SELECT DISTINCT dst FROM e),
        |mut AS (SELECT a.u, a.v FROM r a
        |  JOIN r b ON a.u = b.v AND a.v = b.u)
        |SELECT n AS node,
        |  CAST(least(n, coalesce(MIN(m.u), n)) AS BIGINT) AS scc
        |FROM nodes LEFT JOIN mut m ON m.v = n
        |GROUP BY n ORDER BY node""".stripMargin,
    // Bipartiteness on the double cover: lift (u,v) to parity-
    // flipping state edges, close reachability once, and call a
    // component odd iff its root reaches any node at both parities.
    "graph_bipartite" ->
      s"""WITH RECURSIVE
        |e0 AS ($tradeDirectedSql),
        |und AS (SELECT src AS a, dst AS b FROM e0
        |  UNION SELECT dst, src FROM e0),
        |lift AS (SELECT a * 2 AS src, b * 2 + 1 AS dst FROM und
        |  UNION ALL SELECT a * 2 + 1, b * 2 FROM und),
        |r(u, v) AS (SELECT src, dst FROM lift
        |  UNION SELECT r.u, lift.dst FROM r JOIN lift ON lift.src = r.v),
        |reach AS (SELECT DISTINCT u // 2 AS nu, v // 2 AS nv FROM r),
        |nodes AS (SELECT DISTINCT a AS n FROM und),
        |comp AS (SELECT n AS node,
        |    least(n, coalesce(MIN(reach.nu), n)) AS root
        |  FROM nodes LEFT JOIN reach ON reach.nv = n GROUP BY n),
        |fre AS (SELECT DISTINCT u // 2 AS root, v // 2 AS node,
        |    v % 2 AS parity FROM r WHERE u % 2 = 0),
        |odd AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS n_odd FROM (
        |    SELECT root, node FROM fre GROUP BY 1, 2
        |    HAVING COUNT(DISTINCT parity) = 2) GROUP BY root),
        |cs AS (SELECT root, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |  FROM comp GROUP BY root)
        |SELECT CAST(cs.root AS BIGINT) AS component, n_nodes,
        |  CAST(coalesce(n_odd, 0) AS BIGINT) AS n_odd_nodes,
        |  coalesce(n_odd, 0) = 0 AS bipartite
        |FROM cs LEFT JOIN odd ON cs.root = odd.root
        |ORDER BY component""".stripMargin,
    // BFS distances via a depth-bounded recursive CTE (d < 30 guards
    // cycle laps; the graph has 25 nodes so every shortest path fits),
    // then MIN(d) per pair — the same distances the engine's min-plus
    // doubling closure must reproduce.
    "graph_eccentricity" ->
      s"""WITH RECURSIVE
        |e0 AS ($tradeDirectedSql),
        |und AS (SELECT src AS a, dst AS b FROM e0
        |  UNION SELECT dst, src FROM e0),
        |r(u, v, d) AS (
        |  SELECT DISTINCT a, a, CAST(0 AS BIGINT) FROM und
        |  UNION
        |  SELECT r.u, und.b, r.d + 1 FROM r
        |    JOIN und ON und.a = r.v WHERE r.d < 30),
        |dist AS (SELECT u, v, CAST(MIN(d) AS BIGINT) AS d
        |  FROM r GROUP BY 1, 2),
        |ecc AS (SELECT u AS node, MIN(v) AS component,
        |    CAST(MAX(d) AS BIGINT) AS ecc
        |  FROM dist GROUP BY 1),
        |cm AS (SELECT component, MAX(ecc) AS diameter,
        |    MIN(ecc) AS radius FROM ecc GROUP BY 1)
        |SELECT node, CAST(ecc.component AS BIGINT) AS component, ecc,
        |  CAST(diameter AS BIGINT) AS diameter,
        |  CAST(radius AS BIGINT) AS radius
        |FROM ecc JOIN cm ON ecc.component = cm.component
        |ORDER BY node""".stripMargin,
  )

  /** Shared directed-edge CTE body (customer nation → supplier
    * nation, distinct, self-loops dropped) for the scc/bipartite
    * oracles. */
  private def tradeDirectedSql: String =
    """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS src,
      |    CAST(s_nationkey AS BIGINT) AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey""".stripMargin
}
