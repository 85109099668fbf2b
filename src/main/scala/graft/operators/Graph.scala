package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics beyond the dedup connected components: PageRank over
  * the customer↔supplier transaction graph (entity importance in a
  * bipartite interaction graph — the "which suppliers anchor the
  * network" question).
  *
  * Scale design: the graph lives in DataFrames (edges from one
  * fact-table aggregate); each PageRank round is ONE equality join
  * (edge src → rank) + one map-side-combinable aggregate on dst — the
  * standard distributed PageRank shape, run PR_ITERS times with each
  * round's ranks checkpointed. Per-round ranks are ROUNDED to 9dp so
  * cross-engine double drift cannot compound across rounds (the
  * Lloyd/probe pin); transition probabilities w/outw are exact
  * integer-ratio doubles.
  */
object Graph {

  /** Rebuild the 'c<id>'/'s<id>' node label from the parity-coded long
    * node key (customer = custkey·2, supplier = suppkey·2+1 — the r14
    * long-key discipline: iterates hash/shuffle 8-byte longs, strings
    * exist only at the output edge, and the (custkey,suppkey)↔node map
    * is a bijection so every count, weight and rounding is
    * bit-identical). */
  private def nodeStr(k: Column): Column =
    concat(when(k % 2 === 0, lit("c")).otherwise(lit("s")), shiftright(k, 1))

  /** The parity-coded (cnode, snode) long keys of a trading pair. */
  private def parityNodes: Seq[Column] =
    Seq((col("ck") * 2).as("cnode"), (col("sk") * 2 + 1).as("snode"))

  /** Trading pairs of the customer↔supplier graph, (ck, sk, w = lineitem
    * count): the one fact aggregate every trade-graph query starts from.
    * It groups the raw integer keys, so the lineitem-scale map-side
    * hash-agg keys 16 bytes, and callers build their node keys (parity
    * longs or `c`/`s` strings) AFTER the groupBy, at pair scale instead
    * of per lineitem row (guide §2.3: narrower keys through the
    * corpus-scale exchange). */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .groupBy("ck", "sk").agg(count(lit(1)).as("w"))

  /** The thresholded graph's pairs: at least KCORE_T lineitems (the
    * weight threshold gives the k-core peel its cascade). */
  private def strongPairs(s: SparkSession, dir: String): DataFrame =
    tradePairs(s, dir).filter(col("w") >= KCORE_T)

  /** Both directions of every (cnode, snode, rest...) pair as
    * (src, dst, rest...) — symmetric, so every node has in- and
    * out-edges. localCheckpoint (eager) instead of cache: every round of
    * an iterate references the edges under new broadcasts, and a
    * cached-but-lazy plan made each round's broadcast re-plan the whole
    * upstream lineage. */
  private def symmetricEdges(pairs: DataFrame): DataFrame = {
    val rest = pairs.columns.toSeq.filterNot(Set("cnode", "snode")).map(col)
    def way(from: String, to: String): DataFrame =
      pairs.select(col(from).as("src") +: col(to).as("dst") +: rest: _*)
    way("cnode", "snode").unionByName(way("snode", "cnode")).localCheckpoint()
  }

  /** The thresholded trade graph on parity-coded long nodes — the graph
    * of q_kcore, q_graph_bfs and q_closeness_sample. Their censuses need
    * only a node's SIDE, which is the key's parity. */
  private def strongEdges(s: SparkSession, dir: String): DataFrame =
    symmetricEdges(strongPairs(s, dir).select(parityNodes: _*))

  /** Customer / supplier counts over parity-coded long nodes `v`: the
    * side of a node is its key's parity. */
  private def nCust: Column = sum(when(col("v") % 2 === 0, 1L).otherwise(0L))
  private def nSupp: Column = sum(when(col("v") % 2 =!= 0, 1L).otherwise(0L))

  /** Vertex set `v` of a symmetric edge frame. */
  private def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("v")).distinct()

  private[graft] val PR_ITERS = 3
  private val PR_D     = "0.85" // damping, literal text shared with the oracle
  private val PR_BASE  = "0.15" // 1 - d

  /** Weighted PageRank over the bipartite transaction graph
    * (`q_pagerank`): nodes are customers (`c<id>`) and suppliers
    * (`s<id>`), one undirected edge per trading pair weighted by
    * lineitem count (made directed both ways, so no dangling mass and
    * rank flows through both sides). Top-20 nodes by final rank.
    */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankAll(s, dir)
      .select(col("node"), round(col("pr"), 6).as("pagerank"))
      .orderBy(desc("pagerank"), col("node"))
      .limit(20)

  /** Full (node, pr, n) rank frame after PR_ITERS rounds — `qPagerank`
    * takes its top-20; the spec checks mass conservation over all of it. */
  private[graft] def pagerankAll(s: SparkSession, dir: String): DataFrame =
    pagerankRounds(s, dir, PR_ITERS)

  /** PageRank's fixed frames over the weighted trade graph on
    * parity-coded long nodes — `trans` (src, dst, p = w/outw, exact
    * integer-ratio doubles) and the 1-row node count `nN` — and the
    * uniform starting ranks `pr0` (node, pr, n). Node strings are rebuilt
    * only by [[rankFrame]], so every group, weight and 9dp rounding is
    * bit-identical to the string form. */
  private final case class PrGraph(trans: DataFrame, nN: DataFrame, pr0: DataFrame) {

    /** One round: ONE equi-join (edge src → rank) + one
      * map-side-combinable aggregate on dst, ranks rounded to 9dp. The
      * rank and inflow frames are VERTEX-sized: small enough that AQE
      * broadcasts them on the base data, too big to FORCE — the r11 10x
      * sweep measured explicit hints collecting a 1.6M-row vertex frame
      * to the driver ten times (34 s); unhinted, AQE broadcasts under its
      * size threshold and shuffle-joins past it. The edge set is
      * SYMMETRIC, so `inflow` already covers every node (no per-round
      * LEFT JOIN against the vertex set; the coalesce guards the
      * impossible no-inflow row). Each round is checkpointed: without it
      * round r's broadcast plan nests round r-1's and every
      * materialization replays the whole chain — 63 s at sf1 vs ~10 s. */
    def step(pr: DataFrame): DataFrame = {
      val inflow = trans.join(pr.select(col("node").as("src"), col("pr")), "src")
        .groupBy("dst").agg(sum(col("pr") * col("p")).as("inflow"))
      inflow.crossJoin(broadcast(nN))
        .select(col("dst").as("node"),
          round(expr(PR_BASE) / col("n") +
            expr(PR_D) * coalesce(col("inflow"), lit(0.0)), 9).as("pr"),
          col("n"))
        .localCheckpoint()
    }
  }

  private def prGraph(s: SparkSession, dir: String): PrGraph = {
    val edges = symmetricEdges(tradePairs(s, dir)
      .select(parityNodes :+ col("w").cast("double").as("w"): _*))
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    val trans = edges.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("p"))
      .localCheckpoint()
    val nodes = vertices(edges).select(col("v").as("node")).localCheckpoint()
    val nN = nodes.agg(count(lit(1)).cast("double").as("n"))
    PrGraph(trans, nN, nodes.crossJoin(broadcast(nN))
      .select(col("node"), round(lit(1.0) / col("n"), 9).as("pr"), col("n")))
  }

  /** The (node, pr, n) output frame: node strings only at the output
    * edge (consumers order/tie-break on the node STRING, so it must
    * exist before any orderBy downstream). */
  private def rankFrame(pr: DataFrame): DataFrame =
    pr.select(nodeStr(col("node")).as("node"), col("pr"), col("n"))

  /** The rank frame after exactly `iters` rounds of the gauge's
    * recurrence — [[pageRankConverged]]'s fixpoint spec replays it. */
  private[graft] def pagerankRounds(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val g = prGraph(s, dir)
    rankFrame((1 to iters).foldLeft(g.pr0)((pr, _) => g.step(pr)))
  }

  /** Tolerance-driven PageRank (r11 VERDICT item 6): the production
    * variant of [[pagerankAll]] — the same frames and the same round
    * step (so round r here is BIT-IDENTICAL to the unrolled gauge's
    * round r), but iterating until the largest per-node rank change
    * falls below `eps` instead of a fixed unroll. Returns the final rank
    * frame, the number of rounds executed, and whether the tolerance was
    * met before `maxRounds` (a `false` flag is reported, never silently
    * truncated — the fixed-round gauges' honesty rule). The convergence
    * probe collects exactly ONE double per round (the max |Δpr|
    * aggregate), never the rank frame.
    */
  def pageRankConverged(s: SparkSession, dir: String,
      eps: Double = 1e-6, maxRounds: Int = 100): (DataFrame, Int, Boolean) = {
    val g = prGraph(s, dir)
    // checkpointed: the first round's step and its delta both read it
    var pr = g.pr0.localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = g.step(pr)
      // one scalar to the driver: the L-infinity step size
      val delta = next.join(pr.select(col("node"), col("pr").as("prev")), "node")
        .agg(max(abs(col("pr") - col("prev"))).as("d"))
        .head().getDouble(0)
      pr = next
      rounds += 1
      converged = delta < eps
    }
    (rankFrame(pr), rounds, converged)
  }

  val oraclePagerank: String = {
    def iterCte(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, round($PR_BASE / n + $PR_D * coalesce(inflow, 0.0), 9) AS pr, n
         |  FROM (SELECT node, n FROM nodes, nn) nb
         |  LEFT JOIN (
         |    SELECT dst, sum(pr * p) AS inflow
         |    FROM trans JOIN $prev ON src = node GROUP BY dst) f
         |  ON nb.node = f.dst)""".stripMargin
    val iters = (1 to PR_ITERS).map(i =>
      iterCte(if (i == 1) "pr0" else s"pr${i - 1}", s"pr$i")).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode,
       |         count(*)::DOUBLE AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst, w FROM pairs
       |  UNION ALL SELECT snode, cnode, w FROM pairs),
       |outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
       |trans AS (SELECT e.src, e.dst, e.w / o.outw AS p
       |          FROM edges e JOIN outw o USING (src)),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |pr0 AS (SELECT node, round(1.0 / n, 9) AS pr, n FROM nodes, nn),
       |$iters
       |SELECT node, round(pr, 6) AS pagerank FROM pr$PR_ITERS
       |ORDER BY pagerank DESC, node LIMIT 20""".stripMargin
  }

  /** Triangle census (`q_graph_triangles`) of the inter-nation trade
    * graph: nodes are nations, an undirected edge links two nations
    * whose trade volume (lineitem count between their customers and
    * suppliers) is at least the mean edge volume. Reports node/edge/
    * triangle counts and global transitivity 3·Δ/#open-triads.
    *
    * Scale shape: ONE fact-table aggregate (orders/customer/supplier
    * dims broadcast onto lineitem) reduces everything to the ≤|nations|²
    * edge frame; the triangle 3-way self-join, degree sums, and the
    * mean-volume threshold (a 1-row broadcast) all run on that bounded
    * frame — the classic "aggregate to the quotient graph first" move.
    * Node identity is the integer nation key; a<b<c ordering counts
    * each triangle exactly once. All counts are exact ints; the
    * transitivity ratio is one rounded division.
    */
  def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = nationEdges(s, dir)
    val tri = triangles(edges).agg(count(lit(1)).as("n_triangles"))
    val summary = nationDegrees(edges).agg(count(lit(1)).as("n_nodes"),
      (sum("d") / 2).cast("long").as("n_edges"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_triads"))
    summary.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_triads"), 6).as("transitivity"))
  }

  /** The thresholded inter-nation trade graph of `q_graph_triangles`,
    * `q_link_predict` and `q_local_clustering`: one undirected edge (a, b),
    * a < b, per nation pair whose lineitem count is at least the mean
    * pair count. Both frames are bounded (≤|nations|² rows) and
    * checkpointed: the pair counts because the mean aggregate AND the
    * threshold filter read them (lazily the 4-way fact join ran TWICE
    * per query, once under the broadcast 1-row mean, once on the filter
    * side), the edges because every consumer reads them 4-5 times. */
  private def nationEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dim(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.dim(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val meanW = pairs.agg(avg("w").as("mean_w"))
    pairs.crossJoin(broadcast(meanW))
      .filter(col("w") >= col("mean_w"))
      .select("a", "b")
      .localCheckpoint()
  }

  /** Degree (v, d) of every node of a nation edge frame. */
  private def nationDegrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("v")).unionByName(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Every triangle (a, b, c), a < b < c, of a nation edge frame, once. */
  private def triangles(edges: DataFrame): DataFrame =
    edges.as("ab")
      .join(edges.as("bc"), col("ab.b") === col("bc.a"))
      .join(edges.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("a"), col("ab.b").as("b"), col("bc.b").as("c"))

  val oracleGraphTriangles: String =
    """WITH ord AS MATERIALIZED (
      |  -- each dim joins ITS fact side first, materialized: given the
      |  -- flat 4-way join, DuckDB's reorderer treated c_nationkey <>
      |  -- s_nationkey as a join predicate and planned customer
      |  -- NESTED_LOOP supplier (1.5e9 pairs at sf1 — >900 s); this
      |  -- shape pins the equality joins and leaves <> as a post-filter
      |  SELECT o_orderkey, c_nationkey AS cn
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |li AS MATERIALIZED (
      |  SELECT l_orderkey, s_nationkey AS sn
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |pairs AS (
      |  SELECT least(cn, sn) AS a, greatest(cn, sn) AS b, count(*) AS w
      |  FROM li JOIN ord ON l_orderkey = o_orderkey
      |  WHERE cn <> sn
      |  GROUP BY 1, 2),
      |edges AS (SELECT a, b FROM pairs WHERE w >= (SELECT avg(w) FROM pairs)),
      |deg AS (
      |  SELECT v, count(*) AS d FROM (
      |    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
      |  GROUP BY v),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges ab JOIN edges bc ON ab.b = bc.a
      |    JOIN edges ac ON ac.a = ab.a AND ac.b = bc.b),
      |summary AS (
      |  SELECT count(*) AS n_nodes,
      |    CAST(sum(d) / 2 AS BIGINT) AS n_edges,
      |    CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_triads
      |  FROM deg)
      |SELECT n_nodes, n_edges, n_triangles,
      |  round(3.0 * n_triangles / n_triads, 6) AS transitivity
      |FROM summary, tri""".stripMargin

  /** k-core peel: edge = trading pair with ≥ KCORE_T lineitems (the
    * weight threshold is what gives the peel its cascade — the
    * unthresholded bipartite graph converges in one round). */
  private val KCORE_T = 3
  /** Survive a round with ≥ KCORE_K alive neighbors. */
  private val KCORE_K = 3
  /** Fixed unroll depth: both engines peel exactly this many rounds, so
    * the result is well-defined (and identical) even if some SF needs
    * more rounds to converge; `converged` reports whether the last
    * round was a fixpoint. At sf0.01 the cascade settles in 3. */
  private val KCORE_ROUNDS = 5

  /** k-core decomposition (`q_kcore`) of the thresholded
    * customer↔supplier trading graph: repeatedly drop nodes with fewer
    * than K alive neighbors; what survives is the K-core — the
    * mutually-reinforcing trading cluster that stays dense no matter
    * how much periphery is stripped (the graph-robustness twin of
    * `q_pagerank`'s importance ranking).
    *
    * Scale shape: one fact aggregate reduces lineitem⨝orders to the
    * distinct-pair edge frame; each peel round is two vertex-set
    * semi-joins (alive src ∧ alive dst) + one map-side-combined degree
    * aggregate. The alive set is vertex-sized — NO broadcast hints
    * (the pagerank r11 lesson): AQE broadcasts it while it fits under
    * the threshold and shuffle-joins it on a billion-vertex graph,
    * where a forced broadcast would be a driver OOM. Rounds
    * are unrolled a FIXED number of times — O(log peel-depth) plans,
    * no data-dependent driver loop — and each round's alive set is
    * `localCheckpoint`ed so round r+1's plan doesn't replay rounds
    * 1..r. Output is the 6-row per-round census; the raw vertex set
    * never leaves the executors.
    */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val edges = strongEdges(s, dir)
    def census(alive: DataFrame, round: Int): DataFrame =
      alive.agg(nCust.as("n_alive_cust"), nSupp.as("n_alive_supp"))
        .select(lit(round).as("peel_round"),
          coalesce(col("n_alive_cust"), lit(0L)).as("n_alive_cust"),
          coalesce(col("n_alive_supp"), lit(0L)).as("n_alive_supp"))
    var alive = vertices(edges).localCheckpoint()
    var rounds = Seq(census(alive, 0))
    for (r <- 1 to KCORE_ROUNDS) {
      val deg = edges
        .join(alive.select(col("v").as("src")), "src", "left_semi")
        .join(alive.select(col("v").as("dst")), "dst", "left_semi")
        .groupBy("src").agg(count(lit(1)).as("d"))
      alive = deg.filter(col("d") >= KCORE_K).select(col("src").as("v"))
        .localCheckpoint()
      rounds = rounds :+ census(alive, r)
    }
    val byRound = Window.orderBy("peel_round")
    rounds.reduce(_.union(_))
      .withColumn("n_alive", col("n_alive_cust") + col("n_alive_supp"))
      .withColumn("n_dropped",
        coalesce(lag("n_alive", 1).over(byRound) - col("n_alive"), lit(0L)))
      .withColumn("converged",
        col("peel_round") === KCORE_ROUNDS && col("n_dropped") === 0L)
      .select("peel_round", "n_dropped", "n_alive_cust", "n_alive_supp",
        "n_alive", "converged")
      .orderBy("peel_round")
  }

  val oracleKcore: String = {
    def roundCtes(r: Int): String = {
      val prev = s"a${r - 1}"
      s"""d$r AS (
         |  SELECT e.src AS v, count(*) AS d
         |  FROM edges e JOIN $prev s ON e.src = s.v JOIN $prev t ON e.dst = t.v
         |  GROUP BY 1),
         |a$r AS (SELECT v FROM d$r WHERE d >= $KCORE_K)""".stripMargin
    }
    val iters = (1 to KCORE_ROUNDS).map(roundCtes).mkString(",\n")
    val censuses = (0 to KCORE_ROUNDS).map(r =>
      s"""SELECT $r AS peel_round,
         |  CAST(coalesce(sum(CASE WHEN v LIKE 'c%' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_alive_cust,
         |  CAST(coalesce(sum(CASE WHEN v LIKE 's%' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_alive_supp
         |FROM a$r""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KCORE_T),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode, cnode FROM pairs),
       |a0 AS (SELECT DISTINCT src AS v FROM edges),
       |$iters,
       |census AS (
       |$censuses)
       |SELECT peel_round,
       |  CAST(coalesce(lag(n_alive_cust + n_alive_supp) OVER (ORDER BY peel_round)
       |    - (n_alive_cust + n_alive_supp), 0) AS BIGINT) AS n_dropped,
       |  n_alive_cust, n_alive_supp,
       |  n_alive_cust + n_alive_supp AS n_alive,
       |  peel_round = $KCORE_ROUNDS AND coalesce(lag(n_alive_cust + n_alive_supp)
       |    OVER (ORDER BY peel_round) - (n_alive_cust + n_alive_supp), 0) = 0 AS converged
       |FROM census ORDER BY peel_round""".stripMargin
  }

  /** BFS seed: every customer node of this nation that appears in the
    * thresholded graph. */
  private val BFS_SEED_NATION = 0
  /** Frontier rounds — bipartite, so odd hops land on suppliers, even
    * hops on customers. 4 covers c→s→c→s→c reach. */
  private val BFS_MAX_HOPS = 4

  /** Multi-source BFS hop-distance census (`q_graph_bfs`) over the same
    * thresholded customer↔supplier graph as [[qKcore]]: distance from
    * the nearest seed (all nation-`BFS_SEED_NATION` customers present
    * in the graph), reported as a per-hop census plus an `hop = -1`
    * unreached row — "how many trading partners are within k
    * introductions of this market" reachability.
    *
    * Scale shape: the textbook distributed frontier BFS — each round is
    * ONE semi-join of the edge set against the current frontier (new
    * candidates) + one anti-join against the visited set (drop already-
    * reached). Both frames are frontier/visited-sized — `dist` grows to
    * ALL reached vertices — so they carry NO broadcast hints: AQE
    * broadcasts the early small frontiers and shuffle-joins once they
    * outgrow the threshold (a forced broadcast of `dist` on a
    * billion-vertex graph is a driver OOM, full stop).
    * Rounds are unrolled a FIXED `BFS_MAX_HOPS` times with each
    * round's frontier `localCheckpoint`ed, so round r+1 never replays
    * rounds 1..r. Only the bounded per-hop census leaves the executors.
    * The oracle walks the identical graph with a recursive CTE
    * (`min(d)` per vertex = BFS distance, depth-capped).
    */
  def qGraphBfs(s: SparkSession, dir: String): DataFrame = {
    val edges = strongEdges(s, dir)
    val nodes = vertices(edges).localCheckpoint()
    // seed frame: one nation's customers — dim-bounded, but still
    // vertex-keyed, so no forced hint (AQE broadcasts it on its own)
    val seeds = nodes.join(
      Tables.dim(s, dir, "customer")
        .filter(col("c_nationkey") === BFS_SEED_NATION)
        .select((col("c_custkey") * 2).as("v")),
      "v", "left_semi")
    var dist = seeds.select(col("v"), lit(0).as("hop")).localCheckpoint()
    var frontier = dist.select("v")
    for (r <- 1 to BFS_MAX_HOPS) {
      val next = edges
        .join(frontier.select(col("v").as("src")), "src", "left_semi")
        .select(col("dst").as("v")).distinct()
        .join(dist.select("v"), Seq("v"), "left_anti")
        .select(col("v"), lit(r).as("hop"))
        .localCheckpoint()
      // dist is a UNION of already-checkpointed hop frames — re-
      // checkpointing it copied every previously-reached vertex again
      // each round (O(hops·reached) writes); the lazy union reads the
      // checkpointed pieces and the plan depth is bounded by the fixed
      // hop count
      dist = dist.unionByName(next)
      frontier = next.select("v")
    }
    val reached = dist.groupBy("hop").agg(nCust.as("n_cust"), nSupp.as("n_supp"))
    val unreached = nodes.join(dist.select("v"), Seq("v"), "left_anti")
      .agg(coalesce(nCust, lit(0L)).as("n_cust"), coalesce(nSupp, lit(0L)).as("n_supp"))
      .select(lit(-1).as("hop"), col("n_cust"), col("n_supp"))
    reached.unionByName(unreached)
      .select(col("hop"), col("n_cust"), col("n_supp"),
        (col("n_cust") + col("n_supp")).as("n_total"))
      .orderBy("hop")
  }

  private val LPA_ROUNDS = 3

  /** Synchronous label propagation over the thresholded trade graph —
    * shared by [[qLabelProp]] and [[qGraphModularity]]. Every node starts
    * as its own community and each round adopts the label most frequent
    * among its neighbors, ties broken by MIN label — fully deterministic,
    * so both engines converge identically round by round. Returns the
    * edges and the (v, label) frame after each round, round 0 first.
    *
    * Nodes are `c<id>`/`s<id>` STRINGS: the MIN-label tie-break is a
    * string ordering, so long keys would change results (the strings are
    * built after [[tradePairs]]' groupBy, at pair scale).
    *
    * Scale shape: one round = edges⨝labels (label frame vertex-sized,
    * so NO broadcast hint — AQE picks broadcast at dim scale, shuffle
    * at web scale) + TWO map-side-combinable hash-aggs — the per-(node,
    * neighbor-label) count, then the deterministic argmax as
    * `min(struct(-cnt, label))` (max count, then min label) with NO
    * window over the neighbor stream. Fixed `LPA_ROUNDS` unroll, each
    * round's labels `localCheckpoint`ed.
    */
  private def labelRounds(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val edges = symmetricEdges(strongPairs(s, dir)
      .select(concat(lit("c"), col("ck")).as("cnode"),
        concat(lit("s"), col("sk")).as("snode")))
    val l0 = vertices(edges).select(col("v"), col("v").as("label")).localCheckpoint()
    val rounds = (1 to LPA_ROUNDS).scanLeft(l0) { (labels, _) =>
      edges
        .join(labels.select(col("v").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("v"))
        .agg(min(struct((col("cnt") * -1).as("nc"), col("label"))).as("m"))
        .select(col("v"), col("m.label").as("label"))
        .localCheckpoint()
    }
    (edges, rounds)
  }

  /** Label-propagation community detection (`q_label_prop`): the
    * per-round community census (communities, largest size, singletons)
    * of [[labelRounds]] — how fast the market coalesces into trading
    * blocs. Only the bounded census leaves the executors.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    def census(labels: DataFrame, round: Int): DataFrame =
      labels.groupBy("label").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_comms"), max("sz").as("max_size"),
          sum((col("sz") === 1L).cast("long")).as("n_singletons"))
        .select(lit(round).as("round"), col("n_comms"), col("max_size"),
          col("n_singletons"))
    labelRounds(s, dir)._2.zipWithIndex
      .map { case (labels, r) => census(labels, r) }
      .reduce(_.union(_)).orderBy("round")
  }

  private[graft] val HITS_ITERS = 3
  private[graft] val HITS_TOP   = 10

  /** HITS hubs & authorities (`q_hits`) — the second centrality next to
    * [[qPagerank]], and the one that actually fits a BIPARTITE trade
    * graph: customers are pure hubs (they only point), suppliers pure
    * authorities (they only collect), so the two mutually-reinforcing
    * scores are the natural "big buyer" / "critical supplier" ranking.
    * [[HITS_ITERS]] rounds of h = W·a, a = Wᵀ·h, each MAX-normalized
    * (max is order-independent, unlike the textbook L2/L1 norms whose
    * global float sum would accumulate engine-dependently) and rounded
    * 9dp — the pagerank determinism discipline.
    *
    * Scale shape: identical to pagerank — edges localCheckpointed once;
    * per round the vertex-sized score frame joins onto the edge set
    * with NO broadcast hint (the pagerank/closeness lesson: AQE
    * broadcasts it while small, shuffle-joins it on a billion-vertex
    * graph where a forced broadcast is a driver OOM). The only forced
    * broadcasts are the 1-row max-normalizers. Top-K via TakeOrdered.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    // The iterate runs on the RAW LONG keys (custkey / suppkey — the two
    // sides never mix in one column, so no prefix is needed to keep them
    // apart): 6 join+agg rounds hash and shuffle 8-byte longs instead of
    // 'c…'/'s…' strings, and the per-fact-row concat disappears (guide
    // §2.3: narrower keys through every exchange). Node STRINGS are
    // constructed only in the final top-K selects, BEFORE the orderBy,
    // so the (score DESC, node ASC) string tie-break is unchanged; the
    // (custkey,suppkey)↔(cnode,snode) map is a bijection, so every
    // weight, score and rounding is bit-identical.
    val pairs = tradePairs(s, dir)
      .select(col("ck").as("cnode"), col("sk").as("snode"), col("w").cast("double").as("w"))
      .localCheckpoint()
    var auth = pairs.select(col("snode")).distinct()
      .select(col("snode"), lit(1.0).as("a"))
    var hubs: DataFrame = null
    for (_ <- 1 to HITS_ITERS) {
      // checkpoint each phase's RAW score (BEFORE the max-normalizer):
      // the join+agg then runs exactly once per phase — the 1-row max
      // branch, the normalized frame the next phase joins, and the final
      // top-K all read the checkpointed vertex-sized result. Fusing the
      // two phases into one barrier was measured SLOWER (the lazy
      // h-phase re-ran under the a-phase barrier, both normalizer
      // branches, and again in the final top-K action — cross-action
      // exchange reuse does not exist). Arithmetic unchanged; scores
      // bit-identical.
      val hRaw = pairs.join(auth, "snode")
        .groupBy("cnode").agg(sum(col("w") * col("a")).as("h"))
        .localCheckpoint()
      val hMax = hRaw.agg(max("h").as("hmax"))
      hubs = hRaw.crossJoin(broadcast(hMax))
        .select(col("cnode"), round(col("h") / col("hmax"), 9).as("h"))
      val aRaw = pairs.join(hubs, "cnode")
        .groupBy("snode").agg(sum(col("w") * col("h")).as("a"))
        .localCheckpoint()
      val aMax = aRaw.agg(max("a").as("amax"))
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("snode"), round(col("a") / col("amax"), 9).as("a"))
    }
    val topH = hubs.select(concat(lit("c"), col("cnode")).as("node"),
        lit("hub").as("kind"), round(col("h"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(HITS_TOP)
    val topA = auth.select(concat(lit("s"), col("snode")).as("node"),
        lit("authority").as("kind"), round(col("a"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(HITS_TOP)
    topH.unionByName(topA)
      .orderBy(col("kind"), col("score").desc, col("node"))
  }

  val oracleHits: String = {
    def round9(e: String) = s"round($e, 9)"
    def hCte(r: Int): String = {
      val prevA = if (r == 1) "a0" else s"a${r - 1}"
      s"""hr$r AS (
         |  SELECT cnode, sum(w * a) AS h FROM pairs JOIN $prevA USING (snode)
         |  GROUP BY cnode),
         |h$r AS (SELECT cnode, ${round9("h / (SELECT max(h) FROM hr" + r + ")")} AS h
         |        FROM hr$r),
         |ar$r AS (
         |  SELECT snode, sum(w * h) AS a FROM pairs JOIN h$r USING (cnode)
         |  GROUP BY snode),
         |a$r AS (SELECT snode, ${round9("a / (SELECT max(a) FROM ar" + r + ")")} AS a
         |        FROM ar$r)""".stripMargin
    }
    val iters = (1 to HITS_ITERS).map(hCte).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode,
       |    count(*)::DOUBLE AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |a0 AS (SELECT DISTINCT snode, 1.0 AS a FROM pairs),
       |$iters,
       |th AS (SELECT cnode AS node, 'hub' AS kind, round(h, 6) AS score
       |       FROM h$HITS_ITERS ORDER BY score DESC, node LIMIT $HITS_TOP),
       |ta AS (SELECT snode AS node, 'authority' AS kind, round(a, 6) AS score
       |       FROM a$HITS_ITERS ORDER BY score DESC, node LIMIT $HITS_TOP)
       |SELECT * FROM (SELECT * FROM th UNION ALL SELECT * FROM ta)
       |ORDER BY kind, score DESC, node""".stripMargin
  }

  /** Modularity of the label-propagation communities
    * (`q_graph_modularity`) — the quality gauge that tells whether
    * [[qLabelProp]]'s labels mean anything: Newman's
    * Q = Σ_c (w_in_c/2m − (d_c/2m)²) over the same trading graph and
    * the same LPA_ROUNDS labels. Q≈0 = no better than random wiring;
    * bipartite customer–supplier graphs cap low, which the gauge
    * reports honestly rather than hiding.
    *
    * Determinism: Q decomposes as W_in/(2m) − D2/(4m²) with W_in
    * (within-community directed edges), 2m (total directed edges) and
    * D2 = Σ_c d_c² ALL exact integers (D2 in DECIMAL(38,0) — the
    * square overflows BIGINT at real-graph scale), so the only double
    * arithmetic is one final expression — no order-dependent float
    * summation across communities.
    *
    * Scale shape: the labels are [[labelRounds]]' last round; the
    * modularity pass is two hash aggregates over the |edges| frame onto
    * |communities| then 1 row.
    */
  def qGraphModularity(s: SparkSession, dir: String): DataFrame = {
    val (edges, rounds) = labelRounds(s, dir)
    val labels = rounds.last
    val ann = edges
      .join(labels.select(col("v").as("src"), col("label").as("slab")), "src")
      .join(labels.select(col("v").as("dst"), col("label").as("dlab")), "dst")
    val deg = ann.groupBy("slab")
      .agg(count(lit(1)).as("d"),
        sum((col("slab") === col("dlab")).cast("long")).as("win"))
    val nNodes = labels.agg(countDistinct("v").as("n_nodes"))
    deg.agg(count(lit(1)).as("n_comms"),
        sum("d").as("twom"), sum("win").as("w_in"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("d2"))
      .crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("n_comms"),
        (col("twom") / 2).cast("long").as("n_edges"),
        round(col("w_in") / col("twom").cast("double") -
          col("d2").cast("double") /
            (col("twom").cast("double") * col("twom")), 6).as("modularity"))
  }

  val oracleGraphModularity: String = {
    def roundCte(r: Int): String = {
      val prev = s"l${r - 1}"
      s"""l$r AS (
         |  SELECT dst AS v, label FROM (
         |    SELECT dst, label,
         |           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt
         |          FROM edges e JOIN $prev l ON e.src = l.v GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }
    val iters = (1 to LPA_ROUNDS).map(roundCte).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KCORE_T),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode, cnode FROM pairs),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
       |$iters,
       |ann AS (
       |  SELECT ls.label AS slab, ld.label AS dlab
       |  FROM edges e JOIN l$LPA_ROUNDS ls ON e.src = ls.v
       |               JOIN l$LPA_ROUNDS ld ON e.dst = ld.v),
       |deg AS (
       |  SELECT slab, count(*) AS d,
       |    CAST(sum(CASE WHEN slab = dlab THEN 1 ELSE 0 END) AS BIGINT) AS win
       |  FROM ann GROUP BY slab),
       |tot AS (
       |  SELECT count(*) AS n_comms, CAST(sum(d) AS BIGINT) AS twom,
       |    CAST(sum(win) AS BIGINT) AS w_in,
       |    sum((d::DECIMAL(38,0)) * d) AS d2
       |  FROM deg),
       |nn AS (SELECT count(DISTINCT v) AS n_nodes FROM l$LPA_ROUNDS)
       |SELECT nn.n_nodes, tot.n_comms, tot.twom // 2 AS n_edges,
       |  round(tot.w_in / tot.twom::DOUBLE
       |    - tot.d2::DOUBLE / (tot.twom::DOUBLE * tot.twom), 6) AS modularity
       |FROM tot, nn""".stripMargin
  }

  val oracleLabelProp: String = {
    def roundCte(r: Int): String = {
      val prev = s"l${r - 1}"
      s"""l$r AS (
         |  SELECT dst AS v, label FROM (
         |    SELECT dst, label,
         |           row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
         |    FROM (SELECT e.dst, l.label, count(*) AS cnt
         |          FROM edges e JOIN $prev l ON e.src = l.v GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }
    val iters = (1 to LPA_ROUNDS).map(roundCte).mkString(",\n")
    val censuses = (0 to LPA_ROUNDS).map(r =>
      s"""SELECT $r AS round, count(*) AS n_comms,
         |  CAST(max(sz) AS BIGINT) AS max_size,
         |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons
         |FROM (SELECT label, count(*) AS sz FROM l$r GROUP BY label)""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KCORE_T),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode, cnode FROM pairs),
       |l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges),
       |$iters
       |$censuses
       |ORDER BY round""".stripMargin
  }

  val oracleGraphBfs: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KCORE_T),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode, cnode FROM pairs),
       |nodes AS (SELECT DISTINCT src AS v FROM edges),
       |seeds AS (
       |  SELECT v FROM nodes
       |  WHERE v IN (SELECT 'c' || c_custkey FROM customer
       |              WHERE c_nationkey = $BFS_SEED_NATION)),
       |bfs(v, d) AS (
       |  SELECT v, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, b.d + 1
       |  FROM bfs b JOIN edges e ON b.v = e.src
       |  WHERE b.d < $BFS_MAX_HOPS),
       |dist AS (SELECT v, min(d) AS hop FROM bfs GROUP BY v),
       |reached AS (
       |  SELECT hop,
       |    CAST(sum(CASE WHEN v LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT) AS n_cust,
       |    CAST(sum(CASE WHEN v LIKE 's%' THEN 1 ELSE 0 END) AS BIGINT) AS n_supp
       |  FROM dist GROUP BY hop),
       |unreached AS (
       |  SELECT -1 AS hop,
       |    CAST(coalesce(sum(CASE WHEN v LIKE 'c%' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cust,
       |    CAST(coalesce(sum(CASE WHEN v LIKE 's%' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_supp
       |  FROM nodes WHERE v NOT IN (SELECT v FROM dist))
       |SELECT hop, n_cust, n_supp, n_cust + n_supp AS n_total
       |FROM (SELECT * FROM reached UNION ALL SELECT * FROM unreached)
       |ORDER BY hop""".stripMargin

  /** Report size for `q_link_predict`. */
  private val LP_TOP = 10

  /** Link prediction (`q_link_predict`): score every NON-edge of the
    * thresholded nation trade graph (the `q_graph_triangles` edge set)
    * by the three classical neighborhood indices — common-neighbor
    * count, Jaccard overlap, and Adamic–Adar (Σ 1/ln deg(z), which
    * up-weights rare shared neighbors) — and report the LP_TOP likeliest
    * missing links. This is the "which relationships should exist but
    * don't" readout of recommender bootstrapping and graph cleaning.
    *
    * Scale shape: candidate pairs are generated THROUGH common
    * neighbors (und⨝und on the shared vertex — never nodes², and
    * pairs with no common neighbor never exist anywhere); existing
    * edges leave via one anti-join. Each Adamic–Adar term 1/ln(deg) is
    * rounded to 9dp and summed as DECIMAL(18,9) — exact,
    * order-independent (the attribution pin) — so the one libm `ln`
    * call per distinct degree is the only cross-engine surface, and a
    * 1-ulp ln drift cannot reach the 9th decimal of the reciprocal.
    * Jaccard is one division: cn / (deg(a)+deg(b)−cn), exact ints.
    */
  def qLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val edges = nationEdges(s, dir)
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    // candidate pair (x, y) for every shared neighbor z; x < y
    val common = und.as("l").join(und.as("r"),
        col("l.v") === col("r.v") && col("l.u") < col("r.u"))
      .select(col("l.u").as("x"), col("r.u").as("y"), col("l.v").as("z"))
      .join(edges, col("x") === col("a") && col("y") === col("b"), "left_anti")
    val scored = common
      .join(deg.select(col("u").as("z"), col("d").as("dz")), "z")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1.0) / log(col("dz")), 9).cast("decimal(18,9)"))
          .cast("double").as("aa_raw"))
    scored
      .join(deg.select(col("u").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("u").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"), col("cn"),
        round(col("cn") / (col("dx") + col("dy") - col("cn")), 6).as("jaccard"),
        round(col("aa_raw"), 6).as("adamic_adar"))
      .orderBy(desc("adamic_adar"), col("x"), col("y"))
      .limit(LP_TOP)
  }

  val oracleLinkPredict: String =
    s"""WITH pairs AS (
       |  SELECT least(c_nationkey, s_nationkey) AS a,
       |    greatest(c_nationkey, s_nationkey) AS b, count(*) AS w
       |  FROM lineitem
       |    JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |edges AS (SELECT a, b FROM pairs WHERE w >= (SELECT avg(w) FROM pairs)),
       |und AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
       |deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
       |common AS (
       |  SELECT l.u AS x, r.u AS y, l.v AS z
       |  FROM und l JOIN und r ON l.v = r.v AND l.u < r.u
       |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = l.u AND e.b = r.u)),
       |scored AS (
       |  SELECT x, y, count(*) AS cn,
       |    CAST(sum(CAST(round(1.0::DOUBLE / ln(dz.d), 9) AS DECIMAL(18,9))) AS DOUBLE) AS aa_raw
       |  FROM common JOIN deg dz ON common.z = dz.u
       |  GROUP BY x, y)
       |SELECT x, y, cn,
       |  round(CAST(cn AS DOUBLE) / (dx.d + dy.d - cn), 6) AS jaccard,
       |  round(aa_raw, 6) AS adamic_adar
       |FROM scored JOIN deg dx ON scored.x = dx.u JOIN deg dy ON scored.y = dy.u
       |ORDER BY adamic_adar DESC, x, y LIMIT $LP_TOP""".stripMargin

  // ----------------------------------------------------- degree distribution

  /** Degree distribution (`q_degree_dist`) of the customer–supplier
    * trading graph, log2-binned — the first structural readout of any
    * large graph (power-law vs flat tells you whether hub-aware
    * partitioning/salting is needed before running anything iterative
    * on it). Bin = position of the degree's highest set bit, computed
    * INTEGER-EXACTLY as `length(conv(deg, 10, 2)) - 1` (binary-string
    * length), never `floor(log2(x))` — a 1-ulp libm log2 drift at an
    * exact power of two would flip the bin cross-engine.
    *
    * Scale shape: the pair aggregate is map-side combinable off the
    * fact join's one shuffle; degrees are a count over the distinct
    * pair frame (already reduced); the bin histogram is an enum-sized
    * fold. Per-side node labels (`c`/`s` prefixes) keep the bipartite
    * sides distinguishable in one frame.
    */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    // r14 long keys: the fact-scale distinct and the degree aggregate
    // key parity-coded longs; the output only needs the SIDE letter,
    // which is the key's parity. Bijection ⇒ identical degrees/bins.
    val pairs = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"), (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val deg = pairs.select(col("cnode").as("node"))
      .unionByName(pairs.select(col("snode").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .withColumn("side", when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")))
    deg
      .withColumn("bin", (length(conv(col("deg"), 10, 2)) - 1).cast("long"))
      .groupBy("side", "bin")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"))
      .orderBy("side", "bin")
  }

  val oracleDegreeDist: String =
    """WITH pairs AS (
      |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS cnode,
      |         's' || CAST(l_suppkey AS VARCHAR) AS snode
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (
      |  SELECT node, count(*) AS deg, substr(node, 1, 1) AS side
      |  FROM (SELECT cnode AS node FROM pairs
      |        UNION ALL SELECT snode FROM pairs)
      |  GROUP BY node)
      |SELECT side, CAST(length(bin(deg)) - 1 AS BIGINT) AS bin,
      |  count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
      |FROM deg GROUP BY 1, 2 ORDER BY side, bin""".stripMargin

  // -------------------------------------------------------- assortativity
  /** Degree assortativity of the customer–supplier trade graph: the
    * Pearson correlation of (customer degree, supplier degree) across
    * distinct edges — the one-number answer to "do busy customers trade
    * with busy suppliers?" that `q_degree_dist`'s per-side histograms
    * cannot give (bipartite graphs are typically DISassortative: hubs
    * connect to the broad base, r < 0 — a positive r here would flag a
    * synthetic-data generation bug).
    *
    * Exactness: degrees are exact edge counts; all five moments fold as
    * decimal(38,0)/HUGEINT with the operand cast BEFORE the multiply
    * (the q_corr_matrix overflow rule: deg² reaches ~1e12 per edge and
    * BIGINT partials overflow within one partition at scale); doubles
    * appear only in the final Pearson quotient at the 6dp edge.
    *
    * Scale: the edge list reduces ONCE (distinct); each side's degree
    * re-aggregates that reduced frame and joins back on its own key —
    * two fact-frame shuffles total, both on join keys Catalyst can
    * co-partition with the degree aggregates; the moment fold is one
    * map-side-combinable 1-row aggregate.
    */
  def qGraphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("p"))
      .distinct()
    val cdeg = edges.groupBy("c").agg(count(lit(1)).as("dc"))
    val sdeg = edges.groupBy("p").agg(count(lit(1)).as("ds"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    edges.join(cdeg, "c").join(sdeg, "p")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(dec(col("dc"))).as("sx"), sum(dec(col("ds"))).as("sy"),
        sum(dec(col("dc")) * col("dc")).as("sxx"),
        sum(dec(col("ds")) * col("ds")).as("syy"),
        sum(dec(col("dc")) * col("ds")).as("sxy"))
      .select(col("n_edges"),
        round(col("sx").cast("double") / col("n_edges"), 6).as("mean_cdeg"),
        round(col("sy").cast("double") / col("n_edges"), 6).as("mean_sdeg"),
        round((col("n_edges") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n_edges") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n_edges") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("assortativity"))
  }

  val oracleGraphAssortativity: String =
    """WITH edges AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |cdeg AS (SELECT c, count(*) AS dc FROM edges GROUP BY c),
      |sdeg AS (SELECT p, count(*) AS ds FROM edges GROUP BY p),
      |m AS (
      |  SELECT count(*) AS n_edges,
      |    CAST(sum(CAST(dc AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(ds AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(dc AS HUGEINT) * dc) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(ds AS HUGEINT) * ds) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(dc AS HUGEINT) * ds) AS HUGEINT) AS sxy
      |  FROM edges JOIN cdeg USING (c) JOIN sdeg USING (p))
      |SELECT n_edges,
      |  round(CAST(sx AS DOUBLE) / n_edges, 6) AS mean_cdeg,
      |  round(CAST(sy AS DOUBLE) / n_edges, 6) AS mean_sdeg,
      |  round((n_edges * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n_edges * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * sqrt(n_edges * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |    AS assortativity
      |FROM m""".stripMargin

  // ------------------------------------------------- local clustering
  /** Local (Watts–Strogatz) clustering per nation (`q_local_clustering`)
    * over the SAME thresholded trade graph as `q_graph_triangles` —
    * the per-node complement of that query's global transitivity: how
    * clique-like each nation's own trading neighborhood is
    * (c_v = 2·t_v / d_v(d_v−1)). Graph is enum-bounded (≤|nations|
    * nodes) by construction; one fact pass builds the weighted pair
    * frame, everything after runs on the bounded edge list.
    */
  def qLocalClustering(s: SparkSession, dir: String): DataFrame = {
    val edges = nationEdges(s, dir)
    val perNode = triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    nationDegrees(edges).join(perNode, Seq("v"), "left")
      .select(col("v").cast("long").as("node"),
        col("d").cast("long").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        round(when(col("d") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - 1)))
          .otherwise(lit(0.0)), 6).as("coeff"))
      .orderBy("node")
  }

  val oracleLocalClustering: String =
    """WITH ord AS MATERIALIZED (
      |  SELECT o_orderkey, c_nationkey AS cn
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |li AS MATERIALIZED (
      |  SELECT l_orderkey, s_nationkey AS sn
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |pairs AS (
      |  SELECT least(cn, sn) AS a, greatest(cn, sn) AS b, count(*) AS w
      |  FROM li JOIN ord ON l_orderkey = o_orderkey
      |  WHERE cn <> sn
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT a, b FROM pairs WHERE w >= (SELECT avg(w) FROM pairs)),
      |deg AS (
      |  SELECT v, count(*) AS d FROM (
      |    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
      |  GROUP BY v),
      |pn AS (
      |  SELECT v, count(*) AS t FROM (
      |    SELECT unnest([ab.a, ab.b, bc.b]) AS v
      |    FROM edges ab JOIN edges bc ON ab.b = bc.a
      |      JOIN edges ac ON ac.a = ab.a AND ac.b = bc.b)
      |  GROUP BY v)
      |SELECT CAST(deg.v AS BIGINT) AS node, CAST(d AS BIGINT) AS degree,
      |  CAST(coalesce(t, 0) AS BIGINT) AS triangles,
      |  round(CASE WHEN d >= 2
      |    THEN 2.0 * coalesce(t, 0) / (d * (d - 1)) ELSE 0.0 END, 6) AS coeff
      |FROM deg LEFT JOIN pn ON deg.v = pn.v
      |ORDER BY node""".stripMargin

  // ------------------------------------------------- sampled closeness
  /** Source-sample size and hop radius for `q_closeness_sample`. */
  private val CLOSE_SOURCES = 8
  private val CLOSE_HOPS = 4

  /** Sampled-source harmonic closeness centrality (`q_closeness_sample`)
    * over the thresholded trade graph: per-source BFS from a
    * deterministic sample of CLOSE_SOURCES customer nodes (the smallest
    * custkeys present in the graph — reproducible in both engines
    * without a PRNG), then per node the harmonic sum over reached
    * sources, h(v) = sum over src of 1/d(src, v), hops capped at
    * CLOSE_HOPS. The classic estimator (Eppstein-Wang shape): exact
    * closeness is all-pairs BFS — quadratic and banned — while a fixed
    * source sample gives an unbiased rank gauge whose cost is
    * |sources| x the frontier sweep. Harmonic (not classic) closeness so
    * unreachable pairs contribute zero instead of forcing a diameter
    * convention.
    *
    * Determinism + scale: distances are small integers; the harmonic
    * terms are 1000000 div d (exact integer micros, floor division in
    * both engines) so the sums are order-free exact longs. Each BFS
    * round is one frontier semi-join + one visited anti-join, frontiers
    * localCheckpointed (the `q_graph_bfs` discipline) — rounds never
    * replay prior rounds; the per-source state rides the SAME joins
    * keyed (source, v), so the whole sample costs one extra key column,
    * not |sources| separate sweeps. Only the bounded top-20 leaves.
    */
  def qClosenessSample(s: SparkSession, dir: String): DataFrame = {
    // r14 long-key sweep (qGraphBfs discipline): the (source, v) frontier
    // iterate joins parity-coded longs; node strings are rebuilt only in
    // the final select, BEFORE the orderBy, so the
    // (harmonic DESC, node ASC) string tie-break is unchanged. Source
    // selection order is preserved: key = custkey·2 is monotone in
    // custkey, so orderBy(key) picks the same CLOSE_SOURCES customers.
    val edges = strongEdges(s, dir)
    val sources = vertices(edges)
      .filter(col("v") % 2 === 0)
      .orderBy("v").limit(CLOSE_SOURCES) // TakeOrdered: bounded driver-side
      .select(col("v").as("s0"))
    var dist = sources.select(col("s0"), col("s0").as("v"), lit(0).as("hop"))
      .localCheckpoint()
    var frontier = dist.select("s0", "v")
    for (r <- 1 to CLOSE_HOPS) {
      // NO broadcast hints: the (source, v) frontier/visited frames are
      // |sources| x the reach — 8 x nodes worst-case, data-proportional.
      // AQE broadcasts the early small frontiers and shuffles the late
      // wide ones (the r12 sf10 catch: a forced broadcast here read
      // 322 s at 100x and would OOM a real driver).
      val next = edges
        .join(frontier.withColumnRenamed("v", "src"), "src")
        .select(col("s0"), col("dst").as("v")).distinct()
        .join(dist.select("s0", "v"), Seq("s0", "v"), "left_anti")
        .select(col("s0"), col("v"), lit(r).as("hop"))
        .localCheckpoint()
      // lazy union of checkpointed hop frames (qGraphBfs discipline):
      // no O(hops·reached) re-checkpoint of the accumulated visited set
      dist = dist.unionByName(next)
      frontier = next.select("s0", "v")
    }
    dist.filter(col("hop") > 0)
      .groupBy("v")
      .agg(count(lit(1)).as("n_sources_reached"),
        sum(expr("1000000L div hop")).as("harmonic_micros"))
      // node string BEFORE the orderBy: the tie-break is string-ordered
      .select(nodeStr(col("v")).as("node"), col("n_sources_reached"),
        col("harmonic_micros"))
      .orderBy(desc("harmonic_micros"), col("node"))
      .limit(20)
  }

  val oracleClosenessSample: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= $KCORE_T),
       |edges AS MATERIALIZED (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode, cnode FROM pairs),
       |sources AS (
       |  SELECT v FROM (SELECT DISTINCT src AS v FROM edges)
       |  WHERE v LIKE 'c%'
       |  ORDER BY CAST(substr(v, 2) AS BIGINT) LIMIT $CLOSE_SOURCES),
       |bfs(s0, v, d) AS (
       |  SELECT v, v, 0 FROM sources
       |  UNION
       |  SELECT b.s0, e.dst, b.d + 1
       |  FROM bfs b JOIN edges e ON b.v = e.src
       |  WHERE b.d < $CLOSE_HOPS),
       |dist AS (SELECT s0, v, min(d) AS hop FROM bfs GROUP BY s0, v)
       |SELECT v AS node,
       |  CAST(count(*) AS BIGINT) AS n_sources_reached,
       |  CAST(sum(1000000 // hop) AS BIGINT) AS harmonic_micros
       |FROM dist WHERE hop > 0
       |GROUP BY v
       |ORDER BY harmonic_micros DESC, node LIMIT 20""".stripMargin
}
