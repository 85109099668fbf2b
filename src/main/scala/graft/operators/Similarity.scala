package graft.operators

import graft.{SharedArtifacts, Tables}
import graft.functions.{CosineSimilarity, HashFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over the `embeddings` table
  * (embedding: array<float> — cast to double before any arithmetic so both
  * engines do identical double math on identical float32 inputs).
  *
  * Scale story:
  *  - `qKnnBrute` is the exact baseline: broadcast the (single) query
  *    vector, one scan, TakeOrderedAndProject top-k — no shuffle of the
  *    corpus, linear in data. This is the correct plan even at 100 TB for
  *    one query.
  *  - `qKnnLsh` is the batch/scale path: 16-plane random-hyperplane
  *    signatures → bucket-equality shuffle join → exact re-rank within the
  *    bucket. Quadratic work is confined to a bucket (expected n/2^16 of
  *    the corpus per bucket).
  *  - `qKnnCentroid` is the IVF building block: per-cell centroid
  *    (map-side-combined avg per dimension) + nearest-to-centroid medoid.
  */
object Similarity {

  private val DIM = 64

  /** Random-hyperplane LSH geometry: PLANES sign bits split into BANDS
    * bands of BITS bits. Candidates must agree on at least one FULL band
    * (classic banding), so quadratic work is confined to 2^BITS buckets
    * per band. (BANDS, BITS) is the recall/cost dial, and `qKnnRecall`
    * is how it was set: this corpus's true top-3 neighbors sit at
    * cos≈0.3–0.4 (bit-agreement p≈0.61), where the r3 geometry (2 bands
    * of 8) measured recall@3 = 0.0. Re-measured over the real planes:
    * 6×4 → recall 0.70 at ~39% of n² candidate volume; 4×6 → 0.17 at 7%;
    * 8×4 → 0.80 at 52%. 6×4 is the chosen operating point. The honest
    * conclusion the gauge surfaces: at moderate neighbor cosine,
    * sign-LSH discriminates weakly (random pairs collide per band at
    * 0.5^BITS vs 0.61^BITS for true pairs) and trained-IVF dominates
    * (0.9 recall touching 25% of data); banding wins when neighbor
    * cos ≥ ~0.7, the regime of real near-dup embedding corpora. At
    * 100 TB raise BITS to ~log2(n / target_bucket_size) and add bands —
    * the plan shape (explode → band-equality shuffle join → per-bucket
    * re-rank) is unchanged, only the key gets wider.
    */
  private[graft] val PLANES = 24
  private[graft] val BANDS  = 6
  private[graft] val BITS   = PLANES / BANDS

  /** PQ geometry (declared before every oracle val that interpolates it —
    * object vals initialize in declaration order): see the product-
    * quantization section below for the full design notes. */
  private[graft] val PQ_M     = 8
  private[graft] val PQ_SUB   = DIM / PQ_M
  private[graft] val PQ_KSUB  = 16
  private[graft] val PQ_ITERS = 2

  /** dot(a, b) with left-to-right double summation (matches the
    * oracle's list_sum(list_transform(...)) fold order). Was the
    * interpreted `aggregate(zip_with(...))` HOF tree — the LSH banding
    * path evaluates PLANES of these per row, so it now builds the
    * [[graft.functions.DotProduct]] codegen kernel directly (bit-
    * identical fold; r13 optimization, guide §4). */
  private def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.DotProduct(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** The §2.8 native kernel: same IEEE fold order as dot/norm above but
    * one fused codegen loop (see [[graft.functions.CosineSimilarity]]). */
  private def cosine(s: SparkSession, a: String, b: String): Column = {
    CosineSimilarity.register(s)
    expr(s"graft_cosine($a, $b)")
  }

  /** Top-k per group by (value DESC, id ASC), via the typed O(k)
    * [[graft.functions.MinKPairAggregator]]: returns the group columns
    * plus `_rank` (1-based), `_id` and `_value`, at most k rows per
    * group. This replaces `row_number().over(Window.partitionBy(qid))`
    * ranking in the ANN gauges: those windows are partitioned by a
    * CONSTANT-cardinality key (the RECALL_QS sampled queries), so each
    * partition is corpus-proportional and sorts in a single task at
    * scale; the aggregate keeps O(k) state per group and combines
    * map-side, so no task ever materializes a group. Tie order (equal
    * value → smaller id first) matches the windows it replaces. */
  private def topKByGroup(df: DataFrame, grpCols: Seq[String],
      valueCol: Column, idCol: Column, k: Int): DataFrame = {
    val minK = udaf(new graft.functions.MinKPairAggregator(k))
    df.groupBy(grpCols.map(col): _*)
      .agg(minK((-valueCol).cast("double"), idCol.cast("long")).as("_nbs"))
      .select(grpCols.map(col) :+
        posexplode(arrays_zip(col("_nbs.ds"), col("_nbs.ids")))
          .as(Seq("_pos", "_z")): _*)
      .select(grpCols.map(col) :+ (col("_pos") + 1).as("_rank") :+
        col("_z.ids").as("_id") :+ (-col("_z.ds")).as("_value"): _*)
  }

  /** Exact brute-force cosine top-10 for query vector vec_id=0. */
  def qKnnBrute(s: SparkSession, dir: String): DataFrame =
    knnScores(s, dir)
      .orderBy(desc("cos"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))

  /** Raw cosine of every vector against the vec-0 query — shared by the
    * brute-force top-k and the RRF hybrid-fusion ranker. */
  private[graft] def knnScores(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qemb")))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(q)
      .select(col("vec_id"), cosine(s, "emb", "qemb").as("cos"))
  }

  val oracleKnnBrute: String =
    """WITH q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, round(
      |  list_sum(list_transform(generate_series(1, len(embedding)),
      |    i -> embedding[i]::DOUBLE * qemb[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
      |   * sqrt(list_sum(list_transform(generate_series(1, len(qemb)), i -> qemb[i]::DOUBLE * qemb[i]::DOUBLE)))), 6) AS cos
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY list_sum(list_transform(generate_series(1, len(embedding)),
      |    i -> embedding[i]::DOUBLE * qemb[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
      |   * sqrt(list_sum(list_transform(generate_series(1, len(qemb)), i -> qemb[i]::DOUBLE * qemb[i]::DOUBLE)))) DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Deterministic random-hyperplane weights, identical literals on both
    * engines (computed from md5 at plan-build time — 3 exact decimals). */
  private[graft] def planeWeights: IndexedSeq[IndexedSeq[Double]] =
    (0 until PLANES).map(p => (0 until DIM).map(d =>
      (HashFns.h60Local(s"plane:$p:$d") % 2001 - 1000) / 1000.0))

  /** LSH candidate pairs with exact cosine, both directions
    * (vec_id, cand_id, cos): explode each vector into its BANDS band
    * values, shuffle-join on (band, value) equality, distinct the
    * (possibly multi-band) duplicate pairs, THEN join the embeddings
    * back by vec_id and score with the native `graft_cosine` kernel.
    * Shared by `qKnnLsh` (top-3) and `qDedupEmbedding` (top-1).
    *
    * The band join itself carries only (vec_id, band, bv) — 3 scalars.
    * Keeping the vector in that frame (the r5 shape) shuffled BANDS
    * copies of every embedding into EACH side of the self-join — ~12×
    * the corpus's vector volume through one exchange at 100 TB. Scoring
    * after the pair-level distinct also computes one cosine per unique
    * pair instead of one per band collision.
    */
  private[graft] def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val bands = lshBands(e, "vec_id")
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("cand_id"))
      .distinct()
    pairs
      .join(e.select(col("vec_id"), col("emb").as("x_emb")), "vec_id")
      .join(e.select(col("vec_id").as("cand_id"), col("emb").as("y_emb")), "cand_id")
      .select(col("vec_id"), col("cand_id"),
        cosine(s, "x_emb", "y_emb").as("cos"))
  }

  /** The BANDS LSH signatures of every `emb` row of `e`, exploded to
    * (id, band, bv) rows: bv packs the BITS random-hyperplane sign bits
    * of that band. */
  private def lshBands(e: DataFrame, id: String): DataFrame = {
    val ws = planeWeights
    val bandCols = (0 until BANDS).map { b =>
      val bv = (0 until BITS).map { i =>
        val w = array(ws(b * BITS + i).map(lit): _*)
        when(dot(col("emb"), w) > 0, 1 << i).otherwise(0)
      }.reduce(_ + _)
      struct(lit(b).as("band"), bv.as("bv"))
    }
    e.select(col(id), explode(array(bandCols: _*)).as("bd"))
      .select(col(id), col("bd.band").as("band"), col("bd.bv").as("bv"))
  }

  /** DuckDB mirror of [[lshCandidates]] as CTEs ending in `cand`. */
  private[graft] def lshCandidatesSql: String = {
    val ws = planeWeights
    def bandExpr(b: Int): String = (0 until BITS).map { i =>
      val lits = ws(b * BITS + i).mkString("[", ", ", "]")
      s"CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * ($lits)[i])) > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")
    val bandSel = (0 until BANDS).map(b =>
      s"SELECT vec_id, embedding, $b AS band, (${bandExpr(b)}) AS bv FROM embeddings")
      .mkString(" UNION ALL ")
    s"""bands AS ($bandSel),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS cand_id,
       |    list_sum(list_transform(generate_series(1, len(x.embedding)),
       |      i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
       |    / (sqrt(list_sum(list_transform(generate_series(1, len(x.embedding)), i -> x.embedding[i]::DOUBLE * x.embedding[i]::DOUBLE)))
       |     * sqrt(list_sum(list_transform(generate_series(1, len(y.embedding)), i -> y.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)))) AS cos
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.vec_id <> y.vec_id)""".stripMargin
  }

  /** Exact per-vector LSH top-k with EXACT-DUPLICATE COLLAPSE — the
    * member-level twin of [[lshCandidates]] that survives duplicated
    * corpora. A web-scale embedding table carries exact copies (mirrored
    * pages, re-crawls; ScaleUp's verbatim ×F amplification models this),
    * and copies share every band, so member-level banding emits m² pairs
    * per m-copy group — the 10× battery measured q_knn_lsh at 183 s for
    * exactly this reason. Here banding and cosine scoring run over ONE
    * representative per distinct embedding; each rep carries its k+1
    * smallest member ids (an O(k) MinKPair aggregate), which provably
    * suffice to reconstruct every member's exact top-k:
    *  - own-copy candidates (cos(x,x), computed with the same kernel as
    *    the naive pair so ranking and 6dp output stay bit-identical):
    *    any member's top-k own-copy ids are among the group's k+1
    *    smallest ids (at worst it IS one of them and excludes itself);
    *  - cross-rep candidates at cos(ra,rb): a member of rb can enter a
    *    top-k only if it is one of rb's k smallest ids (ties break by
    *    id ascending).
    * The result equals the naive rank over [[lshCandidates]] row for
    * row — on a duplicate-free corpus the collapse is the identity — so
    * the DuckDB oracle keeps the naive formulation.
    */
  private[graft] def lshTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val minIds = udaf(new graft.functions.MinKPairAggregator(k + 1))
    val reps = e.groupBy("emb")
      .agg(minIds(col("vec_id").cast("double"), col("vec_id")).as("mk"),
        count(lit(1)).as("m"))
      .select(col("emb"), col("mk.ids").as("own_ids"), col("m"),
        col("mk.ids")(0).as("rep"))
      .cache()
    val bands = lshBands(reps, "rep")
    val repPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.rep") =!= col("y.rep"))
      .select(col("x.rep").as("ra"), col("y.rep").as("rb"))
      .distinct()
    val scored = repPairs
      .join(reps.select(col("rep").as("ra"), col("emb").as("ea")), "ra")
      .join(reps.select(col("rep").as("rb"), col("emb").as("eb"),
        col("own_ids").as("nb_ids")), "rb")
      .select(col("ra"), cosine(s, "ea", "eb").as("cos"),
        slice(col("nb_ids"), 1, k).as("cand_ids"))
    val own = reps.filter(col("m") >= 2)
      .select(col("rep").as("ra"), cosine(s, "emb", "emb").as("cos"),
        col("own_ids").as("cand_ids"))
    val pool = scored.unionByName(own)
      .select(col("ra"), col("cos"), explode(col("cand_ids")).as("cand_id"))
    val members = e.join(reps.select(col("emb"), col("rep")), Seq("emb"))
      .select(col("vec_id"), col("rep"))
    val w = Window.partitionBy("vec_id").orderBy(desc("cos"), col("cand_id"))
    members.join(pool, col("rep") === col("ra"))
      .filter(col("cand_id") =!= col("vec_id"))
      .select(col("vec_id"), col("cand_id"), col("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** LSH-banded ANN: per-band sign signatures → band-equality join →
    * exact top-3 re-rank within candidates. Approximate by construction
    * but fully deterministic, so the oracle reproduces it exactly.
    * Candidate generation runs duplicate-collapsed ([[lshTopK]]).
    */
  def qKnnLsh(s: SparkSession, dir: String): DataFrame =
    lshTopK(s, dir, 3)
      .select(col("vec_id"), col("cand_id").as("nn_id"), col("rnk"),
        round(col("cos"), 6).as("cos"))
      .orderBy("vec_id", "rnk")

  val oracleKnnLsh: String =
    s"""WITH $lshCandidatesSql,
       |ranked AS (SELECT vec_id, cand_id, cos,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk FROM cand)
       |SELECT vec_id, cand_id AS nn_id, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
       |FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  /** DuckDB fragment: cosine(aExpr, bExpr) over list columns. */
  private[graft] def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       | / (sqrt(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |  * sqrt(list_sum(list_transform(generate_series(1, len($b)), i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))))"""
      .stripMargin.replace("\n", " ")

  /** Per-label centroids as a (label, centroid) frame — the coarse
    * quantizer for `qKnnCentroid` (a per-label medoid query by
    * definition; `qKnnIvf` uses the TRAINED quantizer below). */
  private def centroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg("v").as("av"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("av")))),
        x => x.getField("av")).as("centroid"))

  /** IVF coarse-quantizer knobs. IVF_K is the 100 TB dial: #cells ≈ √n
    * in production (each probe then touches ~n/K vectors); the training
    * plan below is K-independent in shape — per Lloyd iteration one
    * broadcast of K centroids + one map-side-combinable argmin + one
    * (cell,pos)-keyed mean, the classic distributed k-means. */
  private[graft] val IVF_K     = 8
  private[graft] val IVF_ITERS = 2

  /** Trained coarse quantizer: IVF_ITERS Lloyd iterations from a
    * deterministic seed (the K lowest vec_ids), entirely declarative.
    * Centroid coordinates are rounded to 6 dp after each mean — mirrored
    * in the oracle — so cross-engine float drift (summation order in
    * avg()) cannot flip later argmin assignments; cosine itself is
    * bit-identical on identical inputs (same left-to-right fold both
    * engines). Cells that lose every vector simply vanish (standard
    * non-splitting Lloyd).
    */
  private[graft] def trainedCentroids(s: SparkSession, e: DataFrame): DataFrame = {
    centroidRuns.incrementAndGet()
    val w = Window.orderBy("vec_id")
    var cent = e.orderBy("vec_id").limit(IVF_K)
      .withColumn("cell", row_number().over(w) - 1)
      .select(col("cell"), col("emb").as("centroid"))
    for (_ <- 1 to IVF_ITERS) {
      val assigned = assignCells(s, e, cent)
      cent = assigned
        .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(round(avg("v"), 6).as("av"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("av")))),
          x => x.getField("av")).as("centroid"))
    }
    cent
  }

  /** Lloyd-training executions — observability hook for the memo spec
    * (the Dedup.ccRuns pattern): incremented once per actual training
    * run, NOT per memo hit. */
  private[graft] val centroidRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The trained quantizer over `dir`'s embeddings, a [[SharedArtifacts]]
    * entry shared by the ~9 registry queries that hang an index, gauge or
    * profile off it. `localCheckpoint` truncates the Lloyd plan.
    * Frame-based callers ([[hardNegativesOf]], whose spec feeds
    * constructed corpora) keep training directly. */
  private[graft] def trainedCentroidsFor(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts(s, "centroids", dir, "embeddings") {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      trainedCentroids(s, e).localCheckpoint()
    }

  /** Nearest-cell assignment for every vector: broadcast the K centroids,
    * map-side-combinable struct-min argmin (no per-vector window
    * shuffle), ties to the lowest cell id — mirrored by the oracle's
    * ORDER BY cos DESC, cell. */
  private[graft] def assignCells(s: SparkSession, e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("emb"),
        struct((-cosine(s, "emb", "centroid")).as("nc"), col("cell")).as("sc"))
      .groupBy("vec_id")
      .agg(min("sc").as("m"), first("emb").as("emb"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("emb"))

  /** DuckDB mirror of [[trainedCentroids]]: seed + IVF_ITERS unrolled
    * assign/mean rounds as chained CTEs, ending in `cent(cell, centroid)`
    * and reusable `e(vec_id, emb)`. */
  private[graft] def kmeansCtes: String = {
    def assignCte(centSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, emb, cell FROM (
         |    SELECT e.vec_id, e.emb, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
         |    FROM e CROSS JOIN $centSrc c) WHERE rn = 1)""".stripMargin
    def meanCte(assignSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT cell, list(av ORDER BY pos) AS centroid FROM (
         |    SELECT cell, pos, round(avg(v), 6) AS av FROM (
         |      SELECT cell, unnest(emb) AS v,
         |             unnest(generate_series(1, len(emb))) AS pos
         |      FROM $assignSrc) GROUP BY cell, pos) GROUP BY cell)""".stripMargin
    val iters = (1 to IVF_ITERS).map { i =>
      val centSrc = if (i == 1) "cent0" else s"cent${i - 1}"
      s"${assignCte(centSrc, s"asg$i")},\n${meanCte(s"asg$i", s"cent$i")}"
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
       |  FROM embeddings),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS centroid
       |  FROM e ORDER BY vec_id LIMIT $IVF_K),
       |$iters,
       |cent AS (SELECT cell, centroid FROM cent$IVF_ITERS)""".stripMargin
  }

  /** IVF search with the TRAINED quantizer ([[trainedCentroids]]):
    * (1) assign EVERY vector to its nearest of IVF_K k-means cells
    * (argmin via a map-side-combinable struct-min — no per-vector window
    * shuffle); (2) pick the query's top-2 cells (nprobe=2); (3) exact
    * cosine re-rank only within the probed cells. At 100 TB the probed
    * cells are the only data touched after assignment — the classic
    * IVF recall/cost dial (nprobe, IVF_K) without changing plan shape.
    */
  def qKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, e, cent)
    val qv = broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qemb")))
    val qCells = broadcast(cent.crossJoin(qv)
      .select(col("cell"), cosine(s, "centroid", "qemb").as("qc"))
      .orderBy(desc("qc"), col("cell")).limit(2).select("cell"))
    assigned.filter(col("vec_id") =!= 0)
      .join(qCells, Seq("cell"))
      .crossJoin(qv)
      .select(col("vec_id"), col("cell"), cosine(s, "emb", "qemb").as("cos"))
      .orderBy(desc("cos"), col("vec_id")).limit(5)
      .select(col("vec_id"), col("cell"), round(col("cos"), 6).as("cos"))
  }

  val oracleKnnIvf: String =
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
       |qc AS (
       |  SELECT cell FROM cent, q
       |  ORDER BY ${cosSql("centroid", "qemb")} DESC, cell LIMIT 2)
       |SELECT vec_id, CAST(cell AS INT) AS cell, round(${cosSql("a.emb", "qemb")}, 6) AS cos
       |FROM assigned a JOIN qc USING (cell), q
       |WHERE vec_id <> 0
       |ORDER BY ${cosSql("a.emb", "qemb")} DESC, vec_id LIMIT 5""".stripMargin
  /** Recall gauge for the approximate searches: recall@3 of LSH banding
    * and IVF (nprobe=2, trained cells) against exact brute-force ground
    * truth, over a deterministic sample of query vectors. This is the
    * measurement that makes BITS / IVF_K / nprobe tunable at 100 TB —
    * without it the ANN knobs are blind guesses. Both methods and the
    * truth are deterministic, so the whole gauge is oracle-checked.
    */
  private[graft] val RECALL_QS = 10 // sample: vec_id < 10
  private[graft] val RECALL_K  = 3

  def qKnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val qs = broadcast(e.filter(col("vec_id") < RECALL_QS)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")))
    // exact ground truth: brute-force top-3 per sampled query (one scan,
    // broadcast sample, O(k)-state aggregate — the correct exact plan at
    // any scale: no per-qid window whose 10 partitions would each sort
    // the whole corpus in one task)
    val truth = topKByGroup(
        e.crossJoin(qs).filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cosine(s, "emb", "qemb").as("cos")),
        Seq("qid"), col("cos"), col("vec_id"), RECALL_K)
      .select(col("qid"), col("_id").as("vec_id"))
    // LSH top-3 (same candidates qKnnLsh ranks, restricted to the sample
    // BEFORE candidate generation — the vec_id filter pushes into the
    // band join's probe side, so only the RECALL_QS query vectors rank;
    // full-corpus lshTopK here would rank everyone to keep 10)
    val lshTop = topKByGroup(
        lshCandidates(s, dir).filter(col("vec_id") < RECALL_QS)
          .select(col("vec_id").as("qid"), col("cand_id"), col("cos")),
        Seq("qid"), col("cos"), col("cand_id"), RECALL_K)
      .select(col("qid"), col("_id").as("vec_id"))
    // IVF top-3: probe each query's top-2 trained cells, rank within
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, e, cent)
    val qCells = topKByGroup(
        qs.crossJoin(broadcast(cent))
          .select(col("qid"), col("cell"), cosine(s, "centroid", "qemb").as("qc")),
        Seq("qid"), col("qc"), col("cell"), 2)
      .select(col("qid"), col("_id").as("cell"))
    val ivfTop = topKByGroup(
        assigned.join(qCells, Seq("cell"))
          .join(qs, Seq("qid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cosine(s, "emb", "qemb").as("cos")),
        Seq("qid"), col("cos"), col("vec_id"), RECALL_K)
      .select(col("qid"), col("_id").as("vec_id"))
    // PQ top-3: ADC scores from codes alone (per-query LUT broadcast,
    // RECALL_QS·M·KSUB rows), ranked on sdot/‖x‖ — dividing by the
    // query norm is rank-invariant per qid, so it is omitted
    val pqsubs = pqSubs(e).cache()
    val pqCent = pqCodebooksFor(s, dir) // shared memoized codebooks (r14)
    val pqCodes = pqAssign(pqsubs, pqCent).select("vec_id", "m", "code")
    val pqNorms = e.select(col("vec_id"), sqrt(dot(col("emb"), col("emb"))).as("nrm"))
    val pqLut = broadcast(pqCent.join(
        pqsubs.filter(col("vec_id") < RECALL_QS)
          .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub")), Seq("m"))
      .select(col("qid"), col("m"), col("code"), dot(col("qsub"), col("centroid")).as("pdot")))
    val pqTop = topKByGroup(
        pqCodes.join(pqLut, Seq("m", "code"))
          .groupBy("qid", "vec_id").agg(orderedSum("pdot").as("sdot"))
          .join(pqNorms, Seq("vec_id"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), (col("sdot") / col("nrm")).as("adc")),
        Seq("qid"), col("adc"), col("vec_id"), RECALL_K)
      .select(col("qid"), col("_id").as("vec_id"))
    // r14 negative result (guide §2.6 thread-pool overlap, measured and
    // REJECTED): materializing the four legs as concurrent localCheckpoint
    // actions from a driver pool ran ~50% SLOWER (median 8.4 s vs 5.5 s,
    // min-of-3 at sf0.1/c32) — the legs share the embeddings scan, `qs`
    // and `assigned` subtrees, which ONE action dedupes via exchange
    // reuse while split actions each recompute them; and AQE already
    // materializes independent query stages of the single action
    // concurrently (JobProf shows leg stages completing interleaved). The
    // single-action union below is the faster shape at every measured
    // configuration.
    val approx = lshTop.withColumn("method", lit("lsh"))
      .unionByName(ivfTop.withColumn("method", lit("ivf")))
      .unionByName(pqTop.withColumn("method", lit("pq")))
    val hits = approx.join(truth, Seq("qid", "vec_id"))
      .groupBy("method").agg(count(lit(1)).as("hits"))
    // a method with ZERO hits must still report 0.0 — the r3 2x8-bit
    // LSH banding genuinely scored recall 0 (the knob insight this gauge
    // exists to surface; 6x4 was chosen from its measurements), and
    // dropping a zero row would read as "not measured" instead
    import s.implicits._
    val methods = Seq("ivf", "lsh", "pq").toDF("method")
    methods.join(hits, Seq("method"), "left")
      .select(col("method"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(RECALL_QS * RECALL_K.toDouble), 4).as("recall_at_3"))
      .orderBy("method")
  }

  val oracleKnnRecall: String =
    s"""WITH $kmeansCtes,
       |$lshCandidatesSql,
       |${pqTrainSql()},
       |qs AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $RECALL_QS),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("e.emb", "q.qemb")} DESC, e.vec_id) AS rn
       |    FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid) WHERE rn <= $RECALL_K),
       |lshtop AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT c.vec_id AS qid, c.cand_id AS vec_id,
       |      row_number() OVER (PARTITION BY c.vec_id ORDER BY c.cos DESC, c.cand_id) AS rn
       |    FROM cand c WHERE c.vec_id < $RECALL_QS) WHERE rn <= $RECALL_K),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |qcells AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("c.centroid", "q.qemb")} DESC, c.cell) AS rn
       |    FROM cent c CROSS JOIN qs q) WHERE rn <= 2),
       |ivftop AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qc.qid, a.vec_id,
       |      row_number() OVER (PARTITION BY qc.qid
       |        ORDER BY ${cosSql("a.emb", "q.qemb")} DESC, a.vec_id) AS rn
       |    FROM assigned a JOIN qcells qc USING (cell) JOIN qs q ON q.qid = qc.qid
       |    WHERE a.vec_id <> qc.qid) WHERE rn <= $RECALL_K),
       |pqlut AS (
       |  SELECT q.qid, c.m, c.code, ${dotSql("q.qsub", "c.centroid")} AS pdot
       |  FROM cb$PQ_ITERS c JOIN (
       |    SELECT vec_id AS qid, m, sub AS qsub FROM subs WHERE vec_id < $RECALL_QS) q
       |  USING (m)),
       |pqscored AS (
       |  SELECT l.qid, a.vec_id, list_sum(list(l.pdot ORDER BY a.m)) AS sdot
       |  FROM codes a JOIN pqlut l ON a.m = l.m AND a.code = l.code
       |  GROUP BY l.qid, a.vec_id),
       |pqtop AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT s.qid, s.vec_id,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY s.sdot / n.nrm DESC, s.vec_id) AS rn
       |    FROM pqscored s JOIN pqnorms n USING (vec_id)
       |    WHERE s.vec_id <> s.qid) WHERE rn <= $RECALL_K),
       |approx AS (
       |  SELECT 'lsh' AS method, qid, vec_id FROM lshtop
       |  UNION ALL SELECT 'ivf' AS method, qid, vec_id FROM ivftop
       |  UNION ALL SELECT 'pq' AS method, qid, vec_id FROM pqtop),
       |hits AS (
       |  SELECT method, count(*) AS hits
       |  FROM approx JOIN truth USING (qid, vec_id) GROUP BY method),
       |methods AS (SELECT 'ivf' AS method UNION ALL SELECT 'lsh' AS method
       |  UNION ALL SELECT 'pq' AS method)
       |SELECT m.method, coalesce(h.hits, 0) AS hits,
       |  round(coalesce(h.hits, 0) / ${RECALL_QS * RECALL_K}.0, 4) AS recall_at_3
       |FROM methods m LEFT JOIN hits h USING (method) ORDER BY method""".stripMargin

  /** nprobe settings the sweep measures — 1 to IVF_K, so the top row is
    * the exhaustive probe (recall 1.0 by construction: probing every
    * cell IS brute force) and the curve shows where recall saturates. */
  private[graft] val NPROBES = Seq(1, 2, 4, 8)

  /** The nprobe/recall trade-off curve (`q_knn_nprobe`) — the 100 TB
    * tuning table for the IVF dial: recall@[[RECALL_K]] of trained-cell
    * IVF at nprobe ∈ [[NPROBES]], all settings measured from ONE brute
    * ground-truth pass and ONE candidate scoring pass. Each vector lives
    * in exactly one cell, so a candidate's relevance to a query is fully
    * described by its cell's rank `cr` in that query's centroid ordering;
    * scoring once with `cr` attached and filtering `cr <= nprobe` per
    * setting replays every probe width without rescoring — the sweep
    * costs one scan more than a single-nprobe gauge, not |NPROBES| scans.
    *
    * Scale shape: truth is the documented sampled-stratum brute pass
    * (RECALL_QS broadcast queries × one corpus scan); the sweep side
    * touches only vectors in the union of the top-max(NPROBES) cells;
    * every per-(qid, nprobe) ranking runs through the O(k)
    * map-side-combinable [[topKByGroup]] aggregate, never a window
    * partitioned by the constant-cardinality sample.
    */
  def qKnnNprobe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val qs = broadcast(e.filter(col("vec_id") < RECALL_QS)
      .select(col("vec_id").as("qid"), col("emb").as("qemb")))
    val truth = topKByGroup(
        e.crossJoin(qs).filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cosine(s, "emb", "qemb").as("cos")),
        Seq("qid"), col("cos"), col("vec_id"), RECALL_K)
      .select(col("qid"), col("_id").as("vec_id"))
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, e, cent)
    // cell rank `cr` = the aggregator's 1-based position — the window's
    // row_number with O(NPROBES.max) state instead of a per-qid sort
    val qCells = topKByGroup(
        qs.crossJoin(broadcast(cent))
          .select(col("qid"), col("cell"), cosine(s, "centroid", "qemb").as("qc")),
        Seq("qid"), col("qc"), col("cell"), NPROBES.max)
      .select(col("qid"), col("_id").as("cell"), col("_rank").as("cr"))
    val scored = assigned.join(broadcast(qCells), Seq("cell"))
      .join(qs, Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cr"),
        cosine(s, "emb", "qemb").as("cos"))
    import s.implicits._
    val probes = broadcast(NPROBES.toDF("nprobe"))
    // replicate each candidate to the probe widths that include it by
    // EXPLODING the filtered constant array — a generator in codegen,
    // not a theta-join (a non-equi join against even a 4-row frame
    // plans a nested-loop join; the audit bans those)
    val top = topKByGroup(
        scored.select(col("qid"), col("vec_id"), col("cos"),
          explode(filter(array(NPROBES.map(lit): _*),
            p => col("cr") <= p)).as("nprobe")),
        Seq("qid", "nprobe"), col("cos"), col("vec_id"), RECALL_K)
      .select(col("nprobe"), col("qid"), col("_id").as("vec_id"))
    val hits = top.join(truth, Seq("qid", "vec_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
    probes.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) /
          lit(RECALL_QS * RECALL_K.toDouble), 4).as("recall_at_k"))
      .orderBy("nprobe")
  }

  val oracleKnnNprobe: String =
    s"""WITH $kmeansCtes,
       |qs AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < $RECALL_QS),
       |truth AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("e.emb", "q.qemb")} DESC, e.vec_id) AS rn
       |    FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid) WHERE rn <= $RECALL_K),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |qcells AS (
       |  SELECT qid, cell, cr FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosSql("c.centroid", "q.qemb")} DESC, c.cell) AS cr
       |    FROM cent c CROSS JOIN qs q) WHERE cr <= ${NPROBES.max}),
       |probes AS (${NPROBES.map(p => s"SELECT $p AS nprobe").mkString(" UNION ALL ")}),
       |scored AS (
       |  SELECT qc.qid, a.vec_id, qc.cr,
       |    ${cosSql("a.emb", "q.qemb")} AS cos
       |  FROM assigned a JOIN qcells qc USING (cell) JOIN qs q ON q.qid = qc.qid
       |  WHERE a.vec_id <> qc.qid),
       |top AS (
       |  SELECT nprobe, qid, vec_id FROM (
       |    SELECT p.nprobe, s.qid, s.vec_id,
       |      row_number() OVER (PARTITION BY s.qid, p.nprobe
       |        ORDER BY s.cos DESC, s.vec_id) AS rn
       |    FROM scored s JOIN probes p ON s.cr <= p.nprobe) WHERE rn <= $RECALL_K),
       |hits AS (
       |  SELECT nprobe, count(*) AS hits
       |  FROM top JOIN truth USING (qid, vec_id) GROUP BY nprobe)
       |SELECT p.nprobe, coalesce(h.hits, 0) AS hits,
       |  round(coalesce(h.hits, 0) / ${RECALL_QS * RECALL_K}.0, 4) AS recall_at_k
       |FROM probes p LEFT JOIN hits h USING (nprobe) ORDER BY p.nprobe""".stripMargin

  // ---------------------------------------------------- product quantization
  /** PQ geometry: DIM=64 split into PQ_M=8 subspaces of PQ_SUB=8 dims,
    * PQ_KSUB=16 codes per subspace, trained PQ_ITERS Lloyd rounds per
    * subspace (independent subspace k-means — the standard PQ recipe).
    *
    * The 100 TB story: PQ compresses each 64-double vector (512 B) to
    * PQ_M small codes (8 B here) — the ADC scan touches ONLY the codes
    * table (~64× less scan volume), the full vectors are fetched for
    * the re-rank head alone. At scale raise PQ_KSUB to 256 (byte
    * codes); the plan shape — per-subspace broadcast-centroid argmin
    * for encoding, an (m, code)-keyed lookup-table join for scoring —
    * is unchanged. Training cost is one subs-exploded frame per
    * iteration with a broadcast of M·KSUB centroids, the same
    * distributed-Lloyd shape as [[trainedCentroids]].
    *
    * Geometry SET BY the recall gauge (`q_knn_recall`, method "pq"):
    * 4×8 measured recall@3 = 0.17, 8×16 = 0.23 — chosen. The honest
    * conclusion the gauge surfaces (same as the LSH story): this
    * corpus's true neighbors sit at cos 0.3–0.4, where ADC ranking
    * noise (quantization error ~ the neighbor-to-background cosine
    * margin) drowns the signal and trained IVF (0.9) dominates; PQ's
    * regime is memory-bound corpora where vectors cannot be resident —
    * there the codes-only scan is the only option and re-rank depth
    * compensates recall.
    */

  /** Squared L2 with left-to-right fold (oracle: list_sum, same order);
    * codegen kernel — see [[dot]]. */
  private def l2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.SqDist(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Deterministic m-ordered partial-sum aggregate: collect (m, x),
    * sort by m, fold left-to-right — the 4-term double addition is
    * bit-identical cross-engine (oracle: list_sum(list(x ORDER BY m)));
    * a plain SQL SUM adds in nondeterministic row order. */
  private def orderedSum(c: String): Column =
    aggregate(
      transform(array_sort(collect_list(struct(col("m"), col(c).as("x")))),
        x => x.getField("x")),
      lit(0.0), (acc, v) => acc + v)

  /** (vec_id, m, sub) subvector frame: one row per vector per subspace. */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), slice(col("emb"), m * PQ_SUB + 1, PQ_SUB).as("sub"))): _*)).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.sub").as("sub"))

  /** Per-subspace argmin code assignment against broadcast centroids
    * (map-side-combinable struct-min; ties to the lowest code —
    * mirrored by the oracle's ORDER BY d, code). */
  private def pqAssign(subs: DataFrame, cent: DataFrame): DataFrame =
    subs.join(broadcast(cent), Seq("m"))
      .select(col("vec_id"), col("m"), col("sub"),
        struct(l2sq(col("sub"), col("centroid")).as("d"), col("code")).as("sc"))
      .groupBy("vec_id", "m")
      .agg(min("sc").as("mn"), first("sub").as("sub"))
      .select(col("vec_id"), col("m"), col("mn.code").as("code"), col("sub"))

  /** Trained per-subspace codebooks (m, code, centroid): seeded from the
    * PQ_KSUB lowest vec_ids' subvectors, PQ_ITERS declarative Lloyd
    * rounds, centroid coordinates rounded 6 dp per round (same
    * cross-engine-determinism contract as [[trainedCentroids]]). */
  private[graft] def pqCodebooks(subs: DataFrame): DataFrame = {
    var cent = subs.filter(col("vec_id") < PQ_KSUB)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sub").as("centroid"))
    for (_ <- 1 to PQ_ITERS) {
      cent = pqAssign(subs, cent)
        .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos").agg(round(avg("v"), 6).as("av"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("av")))),
          x => x.getField("av")).as("centroid"))
    }
    cent
  }

  /** PQ-codebook training executions — observability hook for the memo
    * spec (the centroidRuns pattern). */
  private[graft] val pqRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The RAW-embedding PQ codebooks over `dir`, a [[SharedArtifacts]]
    * entry: q_knn_pq and q_knn_recall both train the identical
    * [[pqCodebooks]] over [[pqSubs]] of the same embeddings table.
    * q_knn_ivfpq trains on RESIDUALS (a different input) and keeps its
    * own training. */
  private[graft] def pqCodebooksFor(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts(s, "pq_codebooks", dir, "embeddings") {
      pqRuns.incrementAndGet()
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      pqCodebooks(pqSubs(e)).localCheckpoint()
    }

  /** PQ ANN with asymmetric distance computation (`q_knn_pq`): encode
    * the corpus to (vec_id, m, code) PLUS the exact vector norm — one
    * scalar per vector (cosine-PQ essential: reconstructed norms are
    * biased LOW because codewords are cell means, so dividing by
    * sqrt(Σ|c|²) systematically inflates the cosine; the true norm
    * costs 8 bytes next to the 4 code bytes and removes the bias).
    * Query side builds the M·KSUB partial-dot lookup table, scores
    * every vector from codes alone (adc = Σ pdot / (‖x‖·‖q‖)), exact
    * re-rank of the ADC top-5. Partial sums fold in EXPLICIT m order
    * (sorted collect → left-to-right aggregate; oracle: list(x ORDER
    * BY m) → list_sum) so the 4-term additions are bit-identical
    * cross-engine — a plain SQL SUM would add in nondeterministic row
    * order. Output carries adc_cos next to the exact cos: the
    * approximation error is visible in the result itself.
    */
  def qKnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val subs = pqSubs(e).cache()
    val cent = pqCodebooksFor(s, dir) // shared memoized codebooks (r14)
    val codes = pqAssign(subs, cent).select("vec_id", "m", "code")
    val norms = e.select(col("vec_id"), sqrt(dot(col("emb"), col("emb"))).as("nrm"))
    val qsubs = broadcast(subs.filter(col("vec_id") === 0)
      .select(col("m"), col("sub").as("qsub")))
    val qv = broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qemb")))
    val lut = broadcast(cent.join(qsubs, Seq("m"))
      .select(col("m"), col("code"), dot(col("qsub"), col("centroid")).as("pdot")))
    val adc = codes.filter(col("vec_id") =!= 0)
      .join(lut, Seq("m", "code"))
      .groupBy("vec_id")
      .agg(orderedSum("pdot").as("sdot"))
      .join(norms, Seq("vec_id"))
      .crossJoin(qv)
      .select(col("vec_id"),
        (col("sdot") / (col("nrm") * sqrt(dot(col("qemb"), col("qemb"))))).as("adc_cos"))
      .orderBy(desc("adc_cos"), col("vec_id")).limit(5)
    adc.join(e, Seq("vec_id")).crossJoin(qv)
      .select(col("vec_id"), round(col("adc_cos"), 6).as("adc_cos"),
        round(cosine(s, "emb", "qemb"), 6).as("cos"))
      .orderBy(desc("adc_cos"), col("vec_id"))
  }

  private def l2Sql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"

  /** DuckDB mirror of the PQ training+encoding pipeline as CTEs —
    * assumes a `$embSrc(vec_id, $embCol)` CTE is already in scope
    * (shared with [[kmeansCtes]] when both are present; the IVF-PQ
    * oracle points it at the residual frame). Ends with `subs`, the
    * final codebook `cb{PQ_ITERS}`, `codes`, and per-vector `pqnorms`
    * (norms always over the RAW `e.emb` — the stored exact norm). */
  private[graft] def pqTrainSql(embSrc: String = "e", embCol: String = "emb"): String = {
    def assignCte(centSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, sub, code FROM (
         |    SELECT s.vec_id, s.m, s.sub, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${l2Sql("s.sub", "c.centroid")}, c.code) AS rn
         |    FROM subs s JOIN $centSrc c ON s.m = c.m) WHERE rn = 1)""".stripMargin
    def meanCte(asgSrc: String, out: String): String =
      s"""$out AS (
         |  SELECT m, code, list(av ORDER BY pos) AS centroid FROM (
         |    SELECT m, code, pos, round(avg(v), 6) AS av FROM (
         |      SELECT m, code, unnest(sub) AS v,
         |             unnest(generate_series(1, len(sub))) AS pos
         |      FROM $asgSrc) GROUP BY m, code, pos) GROUP BY m, code)""".stripMargin
    val iters = (1 to PQ_ITERS).map { i =>
      val centSrc = if (i == 1) "cb0" else s"cb${i - 1}"
      s"${assignCte(centSrc, s"pasg$i")},\n${meanCte(s"pasg$i", s"cb$i")}"
    }.mkString(",\n")
    s"""subs AS (
       |  SELECT vec_id, ms.m,
       |    list_transform(generate_series(1, $PQ_SUB), i -> $embCol[ms.m * $PQ_SUB + i]) AS sub
       |  FROM $embSrc, (SELECT unnest(generate_series(0, ${PQ_M - 1})) AS m) ms),
       |cb0 AS (
       |  SELECT m, CAST(vec_id AS INT) AS code, sub AS centroid
       |  FROM subs WHERE vec_id < $PQ_KSUB),
       |$iters,
       |${assignCte(s"cb$PQ_ITERS", "codes")},
       |pqnorms AS (SELECT vec_id, sqrt(${dotSql("emb", "emb")}) AS nrm FROM e)""".stripMargin
  }

  val oracleKnnPq: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
       |  FROM embeddings),
       |${pqTrainSql()},
       |q AS (SELECT m, sub AS qsub FROM subs WHERE vec_id = 0),
       |qfull AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
       |lut AS (
       |  SELECT c.m, c.code, ${dotSql("q.qsub", "c.centroid")} AS pdot
       |  FROM cb$PQ_ITERS c JOIN q USING (m)),
       |scored AS (
       |  SELECT a.vec_id, list_sum(list(l.pdot ORDER BY a.m)) AS sdot
       |  FROM codes a JOIN lut l ON a.m = l.m AND a.code = l.code
       |  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
       |adc AS (
       |  SELECT s.vec_id, s.sdot / (n.nrm * sqrt(${dotSql("qemb", "qemb")})) AS adc_cos
       |  FROM scored s JOIN pqnorms n USING (vec_id), qfull
       |  ORDER BY adc_cos DESC, s.vec_id LIMIT 5)
       |SELECT a.vec_id, round(a.adc_cos, 6) AS adc_cos,
       |  round(${cosSql("e.emb", "qemb")}, 6) AS cos
       |FROM adc a JOIN e USING (vec_id), qfull
       |ORDER BY a.adc_cos DESC, a.vec_id""".stripMargin

  /** IVF-PQ (`q_knn_ivfpq`) — the composed billion-scale index shape:
    * the trained IVF coarse quantizer partitions the corpus into
    * cells, and PQ codebooks are trained on the RESIDUALS (emb −
    * cell centroid) — residuals are smaller and better-centered than
    * raw vectors, which is why the composition beats either part
    * alone at scale. The stored index per vector is (cell, M codes,
    * exact norm): ~(4 + 8 + 8) bytes instead of 512.
    *
    * Query: probe the top-2 cells; per probed cell build the
    * RESIDUAL lookup table against the shared codebooks
    * (LUT(cell, m, code) = (q − centroid_cell)ₘ · codeword — the
    * table depends on the cell because the residual does), then
    * approx dot(q, x) = q·centroid_cell + Σₘ LUT and cosine via the
    * stored exact norm; exact re-rank of the head. Everything
    * downstream of encoding touches codes + two broadcast LUT frames
    * only. All partial sums fold in explicit m order (the qKnnPq
    * determinism contract).
    */
  def qKnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, e, cent).cache()
    val resid = assigned.join(broadcast(cent), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("centroid"), (x, c) => x - c).as("emb"))
    val rsubs = pqSubs(resid.select("vec_id", "emb")).cache()
    val cb = pqCodebooks(rsubs).cache()
    val codes = pqAssign(rsubs, cb).select("vec_id", "m", "code")
    val norms = e.select(col("vec_id"), sqrt(dot(col("emb"), col("emb"))).as("nrm"))
    val qv = broadcast(e.filter(col("vec_id") === 0).select(col("emb").as("qemb")))
    val qCells = broadcast(cent.crossJoin(qv)
      .select(col("cell"), col("centroid"),
        cosine(s, "centroid", "qemb").as("qc"),
        dot(col("qemb"), col("centroid")).as("qcdot"),
        zip_with(col("qemb"), col("centroid"), (x, c) => x - c).as("qres"))
      .orderBy(desc("qc"), col("cell")).limit(2)
      .select("cell", "qcdot", "qres"))
    val qsubs = pqSubs(qCells.select(col("cell").as("vec_id"), col("qres").as("emb")))
      .select(col("vec_id").as("cell"), col("m"), col("sub").as("qsub"))
    val lut = broadcast(cb.join(qsubs, Seq("m"))
      .select(col("cell"), col("m"), col("code"),
        dot(col("qsub"), col("centroid")).as("pdot")))
    val scored = codes
      .join(assigned.select("vec_id", "cell"), Seq("vec_id"))
      .join(lut, Seq("cell", "m", "code")) // probed cells only survive
      .groupBy("vec_id", "cell").agg(orderedSum("pdot").as("rdot"))
      .join(broadcast(qCells.select("cell", "qcdot")), Seq("cell"))
      .join(norms, Seq("vec_id"))
      .crossJoin(qv)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("cell"),
        ((col("rdot") + col("qcdot")) /
          (col("nrm") * sqrt(dot(col("qemb"), col("qemb"))))).as("adc_cos"))
      .orderBy(desc("adc_cos"), col("vec_id")).limit(5)
    scored.join(e, Seq("vec_id")).crossJoin(qv)
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        round(col("adc_cos"), 6).as("adc_cos"),
        round(cosine(s, "emb", "qemb"), 6).as("cos"))
      .orderBy(desc("adc_cos"), col("vec_id"))
  }

  val oracleKnnIvfPq: String =
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |rid AS (
       |  SELECT a.vec_id,
       |    list_transform(generate_series(1, len(a.emb)),
       |      i -> a.emb[i] - c.centroid[i]) AS remb
       |  FROM assigned a JOIN cent c USING (cell)),
       |${pqTrainSql("rid", "remb")},
       |qfull AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
       |qcells AS (
       |  SELECT c.cell, c.centroid,
       |    ${dotSql("q.qemb", "c.centroid")} AS qcdot,
       |    list_transform(generate_series(1, len(q.qemb)),
       |      i -> q.qemb[i] - c.centroid[i]) AS qres
       |  FROM cent c, qfull q
       |  ORDER BY ${cosSql("c.centroid", "q.qemb")} DESC, c.cell LIMIT 2),
       |qsubs AS (
       |  SELECT qc.cell, ms.m,
       |    list_transform(generate_series(1, $PQ_SUB), i -> qc.qres[ms.m * $PQ_SUB + i]) AS qsub,
       |    qc.qcdot
       |  FROM qcells qc, (SELECT unnest(generate_series(0, ${PQ_M - 1})) AS m) ms),
       |lut AS (
       |  SELECT qs.cell, qs.m, cb.code, ${dotSql("qs.qsub", "cb.centroid")} AS pdot
       |  FROM cb$PQ_ITERS cb JOIN qsubs qs USING (m)),
       |scored AS (
       |  SELECT a.vec_id, l.cell, list_sum(list(l.pdot ORDER BY a.m)) AS rdot
       |  FROM codes a JOIN assigned av USING (vec_id)
       |  JOIN lut l ON l.cell = av.cell AND l.m = a.m AND l.code = a.code
       |  WHERE a.vec_id <> 0
       |  GROUP BY a.vec_id, l.cell),
       |adc AS (
       |  SELECT s.vec_id, s.cell,
       |    (s.rdot + qc.qcdot) / (n.nrm * sqrt(${dotSql("qemb", "qemb")})) AS adc_cos
       |  FROM scored s JOIN qcells qc ON qc.cell = s.cell
       |  JOIN pqnorms n USING (vec_id), qfull
       |  ORDER BY adc_cos DESC, s.vec_id LIMIT 5)
       |SELECT a.vec_id, CAST(a.cell AS INT) AS cell, round(a.adc_cos, 6) AS adc_cos,
       |  round(${cosSql("e.emb", "qemb")}, 6) AS cos
       |FROM adc a JOIN e USING (vec_id), qfull
       |ORDER BY a.adc_cos DESC, a.vec_id""".stripMargin

  /** Embedding pre-flight profile (`q_embedding_profile`) — the health
    * check run before pointing any ANN index at a new embedding drop:
    * per-label counts, zero-vector count (a zero vector silently
    * poisons cosine math), norm spread (quantization/normalization
    * drift shows up here first), and the dimension pinned constant.
    * One narrow projection + one map-side-combinable aggregate.
    */
  def qEmbeddingProfile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .select(col("label"), sqrt(dot(col("emb"), col("emb"))).as("nrm"),
        size(col("emb")).as("dim"))
    e.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum((col("nrm") === 0.0).cast("long")).as("n_zero"),
        round(min("nrm"), 4).as("norm_min"),
        round(avg("nrm"), 4).as("norm_mean"),
        round(max("nrm"), 4).as("norm_max"),
        countDistinct("dim").as("n_dims"),
        max("dim").as("dim"))
      .orderBy("label")
  }

  val oracleEmbeddingProfile: String =
    s"""WITH e AS (
       |  SELECT label,
       |    sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
       |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm,
       |    len(embedding) AS dim
       |  FROM embeddings)
       |SELECT label, count(*) AS n,
       |  CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  round(min(nrm), 4) AS norm_min,
       |  round(avg(nrm), 4) AS norm_mean,
       |  round(max(nrm), 4) AS norm_max,
       |  count(DISTINCT dim) AS n_dims,
       |  CAST(max(dim) AS INT) AS dim
       |FROM e GROUP BY label ORDER BY label""".stripMargin

  def qKnnCentroid(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val cent = centroids(e)
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("label"), col("vec_id"),
        cosine(s, "emb", "centroid").as("cos"))
    val w = Window.partitionBy("label").orderBy(desc("cos"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("label"), col("vec_id").as("medoid_id"), round(col("cos"), 6).as("cos"))
      .orderBy("label")
  }

  val oracleKnnCentroid: String =
    """WITH flat AS (
      |  SELECT label, unnest(embedding)::DOUBLE AS v,
      |         unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, list(av ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS av FROM flat GROUP BY 1, 2) GROUP BY label),
      |scored AS (
      |  SELECT e.label, e.vec_id,
      |    list_sum(list_transform(generate_series(1, len(e.embedding)),
      |      i -> e.embedding[i]::DOUBLE * centroid[i]))
      |    / (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      |     * sqrt(list_sum(list_transform(generate_series(1, len(centroid)), i -> centroid[i] * centroid[i])))) AS cos
      |  FROM embeddings e JOIN cent ON e.label = cent.label),
      |ranked AS (SELECT label, vec_id, cos,
      |  row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rn FROM scored)
      |SELECT label, vec_id AS medoid_id, round(cos, 6) AS cos
      |FROM ranked WHERE rn = 1 ORDER BY label""".stripMargin

  // --------------------------------------- Johnson–Lindenstrauss projection

  /** JL target dimensionality: 64 → 16 (4× narrower vectors through every
    * downstream shuffle/scan). */
  private[graft] val JL_D = 16

  /** Deterministic Rademacher (±1) projection matrix — the
    * Achlioptas-style database-friendly JL variant (no gaussians needed;
    * signs from the shared md5 hash appear as identical literals in both
    * engines' plans). Scaling by 1/√JL_D is omitted: cosine is
    * scale-invariant. */
  private[graft] def jlSigns: IndexedSeq[IndexedSeq[Double]] =
    (0 until JL_D).map(k => (0 until DIM).map(j =>
      if (HashFns.h60Local(s"jl:$k:$j") % 2 == 0) 1.0 else -1.0))

  /** JL random-projection gauge (`q_embedding_jl`): project every vector
    * 64→16 dims with a deterministic ±1 matrix, then for the RECALL_QS
    * sample queries report the top-1 neighbor in FULL space vs PROJECTED
    * space, both cosines, and whether they agree — the measured answer to
    * "can downstream ANN run on 4× narrower vectors?".
    *
    * Scale shape: the projection is a pure per-row projection (16 fused
    * dot products, no shuffle); the sample frame is broadcast and every
    * window is bounded by the RECALL_QS sample, exactly like
    * [[qKnnRecall]]. At 100 TB the projected corpus is what ships to the
    * banding/IVF stages — a 4× cut of every vector byte they shuffle.
    */
  def qEmbeddingJl(s: SparkSession, dir: String): DataFrame = {
    val signs = jlSigns
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val p = e.select(col("vec_id"), col("emb"),
      array((0 until JL_D).map(k => dot(col("emb"), array(signs(k).map(lit): _*))): _*).as("jl"))
    val qs = broadcast(p.filter(col("vec_id") < RECALL_QS)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("jl").as("qjl")))
    val scored = p.crossJoin(qs).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(s, "emb", "qemb").as("cos_full"),
        cosine(s, "jl", "qjl").as("cos_jl"))
    // both argmaxes in ONE pass over the scored cross join via two O(1)
    // MinKPair aggregates — the per-qid row_number windows this replaces
    // sorted corpus-sized partitions in single tasks (10 qids = 10 tasks)
    val min1f = udaf(new graft.functions.MinKPairAggregator(1))
    val min1j = udaf(new graft.functions.MinKPairAggregator(1))
    scored.groupBy("qid")
      .agg(
        min1f((-col("cos_full")).cast("double"), col("vec_id").cast("long")).as("f"),
        min1j((-col("cos_jl")).cast("double"), col("vec_id").cast("long")).as("j"))
      .select(col("qid"),
        col("f.ids")(0).as("nn_full"), col("j.ids")(0).as("nn_jl"),
        round(-col("f.ds")(0), 6).as("cos_full"),
        round(-col("j.ds")(0), 6).as("cos_jl"))
      .withColumn("agree", col("nn_full") === col("nn_jl"))
      .orderBy("qid")
  }

  val oracleEmbeddingJl: String = {
    val signs = jlSigns
    val projList = (0 until JL_D).map { k =>
      val lits = signs(k).mkString("[", ", ", "]")
      s"list_sum(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * ($lits)[i]))"
    }.mkString("[", ", ", "]")
    def cosSql(a: String, b: String): String =
      s"""list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
         | / (sqrt(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
         |  * sqrt(list_sum(list_transform(generate_series(1, len($b)), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))""".stripMargin
    s"""WITH p AS (SELECT vec_id, embedding, $projList AS jl FROM embeddings),
       |qs AS (SELECT vec_id AS qid, embedding AS qemb, jl AS qjl FROM p WHERE vec_id < $RECALL_QS),
       |sc AS (
       |  SELECT qid, vec_id,
       |    ${cosSql("embedding", "qemb")} AS cos_full,
       |    ${cosSql("jl", "qjl")} AS cos_jl
       |  FROM p, qs WHERE vec_id <> qid),
       |r AS (SELECT qid, vec_id, cos_full, cos_jl,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, vec_id) AS r1,
       |  row_number() OVER (PARTITION BY qid ORDER BY cos_jl DESC, vec_id) AS r2 FROM sc)
       |SELECT qid,
       | max(CASE WHEN r1 = 1 THEN vec_id END) AS nn_full,
       | max(CASE WHEN r2 = 1 THEN vec_id END) AS nn_jl,
       | round(max(CASE WHEN r1 = 1 THEN cos_full END), 6) AS cos_full,
       | round(max(CASE WHEN r2 = 1 THEN cos_jl END), 6) AS cos_jl,
       | max(CASE WHEN r1 = 1 THEN vec_id END) = max(CASE WHEN r2 = 1 THEN vec_id END) AS agree
       |FROM r WHERE r1 = 1 OR r2 = 1
       |GROUP BY qid ORDER BY qid""".stripMargin
  }

  // ------------------------------------------------------- trained probe

  /** Linear-probe training hyperparameters: PROBE_ITERS full-batch
    * gradient-descent steps at learning rate PROBE_LR, weights ROUNDED to
    * 6dp after every step so cross-engine libm drift (JVM vs DuckDB exp
    * differ in the last ulp) can never accumulate — the same pin as the
    * Lloyd centroid rounding in [[trainedCentroids]]. Measured on this
    * corpus: 0.60 accuracy vs the 0.50 prior after 3 steps (converged
    * logistic regression reaches 0.64 — the labels are only weakly
    * linearly separable, which the gauge reports honestly). */
  private[graft] val PROBE_ITERS = 3
  private val PROBE_LR = "4.0" // literal text, shared by both plans

  /** Bias-extended feature vector: 1.0 prepended to the embedding, so the
    * bias is just weight[0] and training is ONE posexplode aggregate. */
  private def probeX: Column =
    concat(array(lit(1.0)), col("embedding").cast("array<double>"))

  /** Declarative trained LINEAR PROBE (`q_embedding_probe`): logistic
    * regression over the embedding vectors predicting the balanced
    * binary target label < 5 — the "cheap linear probe over document
    * embeddings" a curation stack trains for domain/quality routing when
    * a full classifier is too expensive.
    *
    * The weights are the shared [[probeWeightsFor]] artifact, trained
    * IN-PLAN by [[probeWeights]]: each step is one scan of the
    * feature frame — per-row margin d = σ(w·x) − y, posexplode to
    * (pos, d·x_j), one map-side-combinable avg per coordinate, and the
    * 65-long weight vector is rebuilt by a sorted collect_list (the
    * Lloyd centroid pattern). No driver-side loop touches data: at
    * 100 TB each step is one scan + a 65-double reduce. Predictions use
    * the margin sign (w·x > 0), never σ(w·x) > 0.5 — the margin is a
    * polynomial over 6dp-rounded weights and exact float32→double
    * features, so the predicted class is bit-deterministic across
    * engines while sigmoid would put libm exp on the decision edge.
    * Output: per-label confusion (n, predicted-positive count, accuracy
    * against the target).
    */
  def qEmbeddingProbe(s: SparkSession, dir: String): DataFrame = {
    val feat = Tables.embeddings(s, dir)
      .select(col("label"),
        when(col("label") < 5, 1.0).otherwise(0.0).as("y"),
        probeX.as("x"))
    feat.crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("label"), col("y"), (dot(col("x"), col("w")) > 0.0).cast("double").as("pred"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("pred")).cast("long").as("n_pred_pos"),
        round(avg((col("pred") === col("y")).cast("double")), 4).as("accuracy"))
      .orderBy("label")
  }

  /** Final trained weight frame: PROBE_ITERS gradient-descent steps. */
  private[graft] def probeWeights(s: SparkSession, dir: String): DataFrame = {
    val feat = Tables.embeddings(s, dir)
      .select(when(col("label") < 5, 1.0).otherwise(0.0).as("y"), probeX.as("x"))
    var w = s.range(1).select(
      transform(sequence(lit(1), lit(1 + DIM)), _ => lit(0.0)).as("w"))
    for (_ <- 1 to PROBE_ITERS) {
      val d = lit(1.0) / (lit(1.0) + exp(-dot(col("x"), col("w")))) - col("y")
      w = feat.crossJoin(broadcast(w))
        .select(d.as("d"), col("x"), col("w"))
        .select(col("d"), posexplode(col("x")).as(Seq("pos", "v")), col("w"))
        .groupBy("pos")
        .agg(round(
          element_at(first("w"), col("pos") + 1) - expr(PROBE_LR) * avg(col("d") * col("v")),
          6).as("wj"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("wj")))),
          x => x.getField("wj")).as("w"))
    }
    w
  }

  /** Probe-training executions — observability hook for the memo spec
    * (the centroidRuns pattern): incremented once per actual GD run. */
  private[graft] val probeRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The trained probe weights over `dir`, a [[SharedArtifacts]] entry
    * shared by the seven registry queries that score the corpus with the
    * same probe (q_embedding_probe, q_auc_probe, q_calibration,
    * q_label_noise, q_uncertainty_sample, q_gains_curve, q_ipw_effect).
    * The GD recurrence and its 6dp-per-step rounding are unchanged, so
    * the weights are bit-identical to a fresh [[probeWeights]] run. */
  private[graft] def probeWeightsFor(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts(s, "probe_weights", dir, "embeddings") {
      probeRuns.incrementAndGet()
      probeWeights(s, dir).localCheckpoint()
    }

  /** DuckDB x·w over the bias-extended feature list — same sequential
    * fold order as [[dot]]. */
  private val probeDotXW =
    "list_sum(list_transform(generate_series(1, len(x)), i -> x[i] * w[i]))"

  /** Shared CTE prefix replaying the probe training in SQL: `e`
    * (features+label), `w0i` (zero weights), and the `wi1..wiN` GD
    * steps — ends with trained weights in `wi{PROBE_ITERS}`. */
  private def probeTrainSql: String = {
    def stepCte(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT list(wj ORDER BY pos) AS w FROM (
         |    SELECT pos, round(any_value(w)[pos] - $PROBE_LR * avg(d * v), 6) AS wj FROM (
         |      SELECT 1.0 / (1.0 + exp(-($probeDotXW))) - y AS d,
         |             unnest(x) AS v, unnest(generate_series(1, len(x))) AS pos, w
         |      FROM e, $prev)
         |    GROUP BY pos))""".stripMargin
    val steps = (1 to PROBE_ITERS).map(i =>
      stepCte(if (i == 1) "w0i" else s"wi${i - 1}", s"wi$i")).mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, label, CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y,
       |         list_prepend(1.0, list_transform(embedding, v -> v::DOUBLE)) AS x
       |  FROM embeddings),
       |w0i AS (SELECT list_transform(generate_series(1, ${1 + DIM}), i -> 0.0) AS w),
       |$steps""".stripMargin
  }

  val oracleEmbeddingProbe: String =
    s"""WITH $probeTrainSql
       |SELECT label, count(*) AS n,
       | CAST(sum(CASE WHEN $probeDotXW > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
       | round(avg(CASE WHEN (CASE WHEN $probeDotXW > 0.0 THEN 1.0 ELSE 0.0 END) = y THEN 1.0 ELSE 0.0 END), 4) AS accuracy
       |FROM e, wi$PROBE_ITERS
       |GROUP BY label ORDER BY label""".stripMargin

  /** ROC AUC of the trained probe (`q_auc_probe`): threshold-free
    * ranking quality of the probe's margin scores, via the
    * Mann-Whitney rank statistic with tie-aware average ranks —
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    *
    * Scale shape: the classic two-phase rank trick (the percentile
    * bracket's sibling) — scores collapse to a per-DISTINCT-margin
    * frame first (margins are 6dp-rounded, so the frame is bounded by
    * the score range × 10⁶ cells, not by corpus rows), then ONE
    * ordered window over that collapsed frame accumulates the
    * below-count, and rank sums are exact: every term is an integer
    * or half-integer, so double summation is drift-free in any order.
    * The final AUC is one division of engine-identical doubles.
    */
  def qAucProbe(s: SparkSession, dir: String): DataFrame =
    aucOf(Tables.embeddings(s, dir)
      .select(when(col("label") < 5, 1.0).otherwise(0.0).as("y"), probeX.as("x"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("y"), round(dot(col("x"), col("w")), 6).as("sc")))

  /** Tie-aware rank AUC over any (y ∈ {0,1}, sc) frame.
    *
    * The below-count is a bucketed two-phase cumulative sum (the
    * [[graft.operators.Relational.ntileExact]] machinery): distinct
    * margins bucket by value range, per-bucket totals cumulate over the
    * ≤`buckets`-row frame (the only unpartitioned window — bounded by
    * the constant, not the data), and each margin adds its
    * within-bucket prefix under a bucket-PARTITIONED window. No task
    * ever sorts the whole distinct-margin frame, which at 6dp rounding
    * can reach ~10⁷ rows — the r8-flagged single-task sort is gone.
    * The distinct-margin frame is localCheckpoint'ed: it is referenced
    * three times (range stats, bucket totals, final ranks) and its
    * upstream is typically an expensive trained-probe pipeline.
    */
  private[graft] def aucOf(scored: DataFrame, buckets: Int = 256): DataFrame = {
    val perScore = scored.groupBy("sc")
      .agg(count(lit(1)).as("cnt"), sum("y").cast("long").as("pos"))
      .localCheckpoint(true)
    val stats = perScore.agg(min("sc").as("__auc_min"), max("sc").as("__auc_max"))
    val span = col("__auc_max") - col("__auc_min")
    val bucketed = perScore.crossJoin(broadcast(stats))
      .withColumn("__auc_b",
        when(span === 0d, lit(0)).otherwise(
          least(floor((col("sc") - col("__auc_min")) / span * buckets),
            lit(buckets - 1))).cast("int"))
    val bucketCum = bucketed.groupBy("__auc_b").agg(sum("cnt").as("__auc_bcnt"))
      .withColumn("__auc_bcum",
        coalesce(sum("__auc_bcnt").over(Window.orderBy("__auc_b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__auc_b", "__auc_bcum")
    val inB = Window.partitionBy("__auc_b").orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(bucketCum), Seq("__auc_b"))
      .withColumn("cumbelow",
        col("__auc_bcum") + coalesce(sum("cnt").over(inB), lit(0L)))
      .agg(sum("pos").as("np"), sum("cnt").as("nall"),
        sum(col("pos") * (col("cumbelow") + (col("cnt") + 1) / lit(2.0))).as("rplus"))
      .select(col("np").as("n_pos"), (col("nall") - col("np")).as("n_neg"),
        ((col("rplus") - col("np") * (col("np") + 1) / lit(2.0)) /
          (col("np") * (col("nall") - col("np")))).as("auc"))
      .select(col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc"),
        round(lit(2.0) * col("auc") - 1.0, 6).as("gini"))
  }

  val oracleAucProbe: String =
    s"""WITH $probeTrainSql,
       |scored AS (
       |  SELECT y, round($probeDotXW, 6) AS sc FROM e, wi$PROBE_ITERS),
       |per AS (
       |  SELECT sc, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos
       |  FROM scored GROUP BY sc),
       |rk AS (
       |  SELECT pos, cnt,
       |    CAST(coalesce(sum(cnt) OVER (ORDER BY sc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumbelow
       |  FROM per),
       |agg AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS np, CAST(sum(cnt) AS BIGINT) AS nall,
       |    sum(pos * (cumbelow + (cnt + 1) / 2.0)) AS rplus
       |  FROM rk)
       |SELECT np AS n_pos, nall - np AS n_neg,
       |  round((rplus - np * (np + 1) / 2.0) / (np * (nall - np)), 6) AS auc,
       |  round(2.0 * ((rplus - np * (np + 1) / 2.0) / (np * (nall - np))) - 1.0, 6) AS gini
       |FROM agg""".stripMargin

  // ------------------------------------------------------ semantic dedup

  /** SemDeDup drop threshold: pairs at or above this cosine are
    * duplicates. The corpus's random-pair ceiling is cos≈0.51, planted
    * dups land ≈0.999 — the threshold sits in the wide gap between. */
  private[graft] val SEMDEDUP_TAU = 0.9

  /** Semantic deduplication (SemDeDup): cluster with the trained coarse
    * quantizer, then drop the higher vec_id of any WITHIN-CLUSTER pair
    * with cosine ≥ τ — the embedding-space twin of the text near-dup
    * family, catching paraphrases that share no n-grams.
    *
    * The synthetic corpus has no true semantic dups (measured: max
    * random-pair cos 0.51), so the query plants a DETERMINISTIC dup
    * fixture — every 25th vec_id re-enters under id+max(vec_id)+1 with +0.05
    * on its first coordinate (cos≈0.999 to its source), mirrored
    * exactly in the oracle — and dedups the extended corpus against
    * the quantizer trained on the ORIGINAL corpus (the production
    * shape: the quantizer is a trained artifact, dedup runs per ingest
    * batch).
    *
    * Scale shape: this is SemDeDup's whole point — the quadratic
    * pair-scan is confined WITHIN cells by an equality join on cell id
    * (cell population ≈ n/K; at 100 TB IVF_K grows ≈ √n so cells stay
    * bounded), never across the corpus. Output is the K-row per-cell
    * census. */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // planted ids start at max(vec_id)+1 — a hard-coded offset would
    // collide with real ids once the corpus outgrows it (ScaleUp runs)
    val dups = e.filter(col("vec_id") % 25 === 0)
      .crossJoin(broadcast(e.agg((max("vec_id") + 1).as("planted_off"))))
      .select((col("vec_id") + col("planted_off")).as("vec_id"),
        transform(col("emb"), (v, i) =>
          v + when(i === 0, lit(0.05)).otherwise(lit(0.0))).as("emb"))
    val corpus = e.unionByName(dups)
    // Exact-duplicate collapse (the lshTopK lesson — r12's sf10 battery
    // caught this query at 1292 s / ~85x for 10x data, the member-level
    // within-cell self-join going quadratic in the copy count): every
    // copy of a distinct embedding shares its cell AND all its pairwise
    // cosines, and a same-group pair always clears tau (cos rounds to
    // 1.0 at 6dp), so the member-level verdict reconstructs EXACTLY
    // from a rep-level scan — every non-min member drops; the min
    // member drops iff some OTHER group in the cell with cos >= tau has
    // a smaller min id. Per cell: n_dropped = (members - groups) +
    // rep-level drops. Identity on duplicate-free data (gsize = 1).
    val groups = corpus.groupBy("emb")
      .agg(min("vec_id").as("vec_id"), count(lit(1)).as("gsize"))
      .localCheckpoint() // pair scan + census both read it
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, groups.select("vec_id", "emb"), cent)
      .join(groups.select("vec_id", "gsize"), "vec_id")
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"), col("b.vec_id").as("drop_id"),
        cosine(s, "a.emb", "b.emb").as("cos"))
      .filter(round(col("cos"), 6) >= SEMDEDUP_TAU)
    val droppedReps = pairs.select("cell", "drop_id").distinct()
      .groupBy("cell").agg(count(lit(1)).as("n_rep_dropped"))
    assigned.groupBy("cell")
      .agg(sum("gsize").as("n_members"), count(lit(1)).as("n_groups"))
      .join(droppedReps, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
        (col("n_members") - col("n_groups")
          + coalesce(col("n_rep_dropped"), lit(0L))).as("n_dropped"))
      .select(col("cell"), col("n_members"), col("n_dropped"),
        round(col("n_dropped") / col("n_members"), 6).as("drop_frac"))
      .orderBy("cell")
  }

  /** k-th-neighbor rank and report size for `q_knn_outlier`. */
  private[graft] val OUT_K   = 3
  private val OUT_TOP = 10

  /** Embedding-space outlier gauge (`q_knn_outlier`): per vector, the
    * cosine to its OUT_K-th nearest neighbor inside its trained IVF
    * cell; the OUT_TOP most isolated vectors (lowest k-NN cosine) are
    * the report — the classic k-NN-distance outlier detector
    * (Ramaswamy et al.), the curation gauge that surfaces mislabeled /
    * corrupted / off-distribution embeddings before they poison
    * contrastive training or ANN recall.
    *
    * Scale shape: the quadratic neighbor scan is confined within IVF
    * cells by an equality join (SemDeDup's shape — O(Σ cell²), never
    * O(n²)); the k-th neighbor comes from the typed
    * [[graft.functions.MinKPairAggregator]] — O(OUT_K) sorted-merge
    * state per anchor, map-side combinable — NOT from collecting the
    * cell-sized neighbor list (a √n-element array per row at the
    * IVF_K≈√n dial). Cosines are rounded 9dp before aggregation (ties
    * → nb_id) so cross-engine drift can't reorder the heads; the
    * final report is TakeOrdered(OUT_TOP). Anchors in cells with
    * ≤ OUT_K members have no k-th neighbor and drop out (both engines).
    */
  def qKnnOutlier(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // quantizer trains on the FULL corpus (copies legitimately weight the
    // centroids — must match the oracle), but the in-cell pair scan runs
    // DUPLICATE-COLLAPSED: m verbatim copies of a vector share a cell
    // and every cosine, so member-level pairing costs m² per copy group
    // (the 10× battery measured 95-216 s here) while the k-th-neighbor
    // VALUE per member is fully determined by rep-level data: the
    // multiset of neighbor cosines is {(m−1) × cos(x,x)} ∪
    // {m_S × cos(R,S) per in-cell rep S}, and its 3rd-largest element
    // lies within the top-OUT_K distinct rep entries (each contributes
    // ≥1), reconstructed by a counted walk — exactly the naive
    // (cos desc, id) MinK value stream, which ids cannot reorder.
    val cent = trainedCentroidsFor(s, dir)
    val reps = e.groupBy("emb")
      .agg(min("vec_id").as("rep"), count(lit(1)).as("m"))
      .cache()
    val assignedReps = assignCells(s,
        reps.select(col("rep").as("vec_id"), col("emb")), cent)
      .select(col("vec_id").as("rep"), col("emb"), col("cell"))
      .join(reps.select(col("rep"), col("m")), "rep")
    val pairCos = assignedReps.as("a")
      .join(assignedReps.as("b"),
        col("a.cell") === col("b.cell") && col("a.rep") =!= col("b.rep"))
      .select(col("a.rep").as("rep"),
        round(cosine(s, "a.emb", "b.emb"), 9).as("cos"),
        col("b.rep").as("nb_rep"), col("b.m").as("cnt"))
    val top = topKByGroup(
        pairCos.select(col("rep"), col("cos"), col("nb_rep")),
        Seq("rep"), col("cos"), col("nb_rep"), OUT_K)
      .join(reps.select(col("rep").as("_id"), col("m").as("cnt")), "_id")
      .select(col("rep"), col("_value").as("cos"), col("cnt"))
    val own = assignedReps.filter(col("m") >= 2)
      .select(col("rep"), round(cosine(s, "emb", "emb"), 9).as("cos"),
        (col("m") - 1).as("cnt"))
    val walkT = "struct<rem:bigint,ans:double>"
    val kthByRep = top.unionByName(own)
      .groupBy("rep")
      .agg(collect_list(struct((-col("cos")).as("negc"), col("cnt"))).as("es"))
      .select(col("rep"), aggregate(
        array_sort(col("es")), // asc by negc = cos descending
        struct(lit(OUT_K.toLong).as("rem"), lit(null).cast("double").as("ans"))
          .cast(walkT),
        (acc, x) =>
          when(acc.getField("ans").isNotNull, acc)
            .when(x.getField("cnt") >= acc.getField("rem"),
              struct(lit(0L).as("rem"), (-x.getField("negc")).as("ans")).cast(walkT))
            .otherwise(struct((acc.getField("rem") - x.getField("cnt")).as("rem"),
              lit(null).cast("double").as("ans")).cast(walkT)))
        .getField("ans").as("kth"))
      .filter(col("kth").isNotNull)
    val members = e.join(reps.select(col("emb"), col("rep")), Seq("emb"))
      .select(col("vec_id"), col("rep"))
    members
      .join(kthByRep, "rep")
      .join(assignedReps.select(col("rep"), col("cell")), "rep")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        round(col("kth"), 6).as("knn_cos"))
      .orderBy(col("knn_cos").asc, col("vec_id")).limit(OUT_TOP)
  }

  val oracleKnnOutlier: String =
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id, a.cell,
       |    -round(${cosSql("a.emb", "b.emb")}, 9) AS nc,
       |    b.vec_id AS nb_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |kth AS (
       |  SELECT vec_id, any_value(cell) AS cell,
       |    list_sort(list({'nc': nc, 'nb_id': nb_id}))[$OUT_K] AS kv,
       |    count(*) AS n_nb
       |  FROM pairs GROUP BY vec_id)
       |SELECT vec_id, CAST(cell AS INT) AS cell,
       |  round(-(kv.nc), 6) AS knn_cos
       |FROM kth WHERE n_nb >= $OUT_K
       |ORDER BY knn_cos, vec_id LIMIT $OUT_TOP""".stripMargin

  /** Report size for `q_label_noise`. */
  private val LN_TOP = 10

  /** Label-noise detection (`q_label_noise`): the vectors whose TRAINED
    * probe margin most confidently contradicts their label — the
    * confident-learning heuristic (Northcutt et al.: examples a model
    * is sure are mislabeled usually are) a curation stack runs to
    * quarantine annotation errors before training. Suspicion =
    * |margin| among sign-disagreeing rows; top LN_TOP reported with
    * label, target, and margin so the quarantine is reviewable.
    *
    * Scale shape: the trained 1-row weight frame broadcasts onto ONE
    * corpus scan (margin is a pure projection), the disagreement
    * filter prunes scan-side, and the report is
    * TakeOrderedAndProject — no shuffle of the corpus at any size.
    * Margins are 6dp-rounded (the probe pin) so the disagreement set
    * and its ranking are engine-identical.
    */
  def qLabelNoise(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        when(col("label") < 5, 1.0).otherwise(0.0).as("y"), probeX.as("x"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("vec_id"), col("label"), col("y"),
        round(dot(col("x"), col("w")), 6).as("margin"))
      .filter((col("margin") > 0.0) =!= (col("y") === 1.0))
      .select(col("vec_id"), col("label"), col("y"), col("margin"),
        abs(col("margin")).as("suspicion"))
      .orderBy(desc("suspicion"), col("vec_id"))
      .limit(LN_TOP)

  val oracleLabelNoise: String =
    s"""WITH $probeTrainSql,
       |scored AS (
       |  SELECT vec_id, label, y, round($probeDotXW, 6) AS margin
       |  FROM e, wi$PROBE_ITERS)
       |SELECT vec_id, label, y, margin, abs(margin) AS suspicion
       |FROM scored
       |WHERE (margin > 0.0) <> (y = 1.0)
       |ORDER BY suspicion DESC, vec_id LIMIT $LN_TOP""".stripMargin

  /** Calibration bin width over the probe margin axis. */
  private val CAL_BIN = "0.5" // literal text shared with the oracle

  /** Reliability (calibration) curve of the trained probe
    * (`q_calibration`): bin the margin axis into fixed-width cells and
    * report, per bin, how often the label is actually positive — the
    * "can I trust the score as a probability" readout that accompanies
    * [[qAucProbe]]'s ranking quality.
    *
    * Scale shape: fixed-width binning (`floor(sc / w)`) instead of
    * ntile — NO global sort, one map-side-combinable hash-agg onto a
    * bounded bin frame. Every output value is exact: bin bounds are
    * exact multiples of the width, counts are ints, and the positive
    * rate is one division of exact ints.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(when(col("label") < 5, 1.0).otherwise(0.0).as("y"), probeX.as("x"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("y"), round(dot(col("x"), col("w")), 6).as("sc"))
      .select(col("y"), floor(col("sc") / expr(CAL_BIN)).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").cast("long").as("n_pos"))
      .select(col("bin"), (col("bin") * expr(CAL_BIN)).as("bin_lo"),
        col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"))
      .orderBy("bin")

  val oracleCalibration: String =
    s"""WITH $probeTrainSql,
       |scored AS (
       |  SELECT y, round($probeDotXW, 6) AS sc FROM e, wi$PROBE_ITERS),
       |b AS (
       |  SELECT CAST(floor(sc / $CAL_BIN) AS BIGINT) AS bin,
       |         count(*) AS n,
       |         CAST(sum(y) AS BIGINT) AS n_pos
       |  FROM scored GROUP BY 1)
       |SELECT bin, bin * $CAL_BIN AS bin_lo, n, n_pos,
       |  CAST(n_pos AS DOUBLE) / n AS pos_rate
       |FROM b ORDER BY bin""".stripMargin

  /** MMR hyperparameters: relevance weight λ, candidate-pool size, and
    * picks. */
  private val MMR_L    = "0.7" // literal text shared with the oracle
  private[graft] val MMR_POOL = 30
  private[graft] val MMR_K    = 10

  /** Maximal-marginal-relevance reranking (`q_mmr_rerank`): greedy
    * top-K that trades relevance against redundancy — each round picks
    * argmax λ·rel(x) − (1−λ)·max-sim(x, selected) — the diversified
    * retrieval pass a RAG/eval pipeline runs after ANN so near-
    * duplicate hits don't crowd the context window.
    *
    * Scale shape: the DISTRIBUTED part is pool selection (one brute
    * scan → TakeOrdered(MMR_POOL) — swap in the IVF probe at 100 TB
    * unchanged); the greedy loop then runs over the BOUNDED pool as
    * K in-plan rounds of the coreset/BPE pattern: the picked vector is
    * a plan literal, each round is one `greatest(maxsim, cos(x, pick))`
    * projection + a TakeOrdered(1) argmax, `localCheckpoint`ed so
    * round r never replays 1..r-1. Scores are rounded 9dp before the
    * argmax (ties → vec_id) so cross-engine drift can't flip a pick.
    */
  def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val l = expr(MMR_L)
    def centerLit(v: Seq[Double]): Column = array(v.map(lit): _*)
    val pool = knnScores(s, dir)
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), "vec_id")
      .orderBy(desc("cos"), col("vec_id")).limit(MMR_POOL)
      .select(col("vec_id"), col("emb"), col("cos").as("rel"))
      .localCheckpoint()
    // round 0: pure relevance argmax
    val seed = pool.orderBy(round(col("rel"), 9).desc, col("vec_id")).limit(1).collect()(0)
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, seed.getLong(0), MMR_L.toDouble * seed.getDouble(2)))
    var cur = pool.filter(col("vec_id") =!= seed.getLong(0))
      .select(col("vec_id"), col("emb"), col("rel"),
        cosine(s, "emb", s"array(${seed.getSeq[Double](1).map(d => s"${d}D").mkString(",")})").as("maxsim"))
      .localCheckpoint()
    for (r <- 1 until MMR_K) {
      val mmr = l * col("rel") - (lit(1.0) - l) * col("maxsim")
      val pick = cur.select(col("vec_id"), col("emb"), col("rel"), col("maxsim"), mmr.as("mmr"))
        .orderBy(round(col("mmr"), 9).desc, col("vec_id")).limit(1).collect()(0)
      picked += ((r, pick.getLong(0), pick.getDouble(4)))
      if (r < MMR_K - 1)
        cur = cur.filter(col("vec_id") =!= pick.getLong(0))
          .select(col("vec_id"), col("emb"), col("rel"),
            greatest(col("maxsim"),
              cosine(s, "emb", s"array(${pick.getSeq[Double](1).map(d => s"${d}D").mkString(",")})")).as("maxsim"))
          .localCheckpoint()
    }
    import s.implicits._
    picked.toSeq.toDF("sel_round", "vec_id", "mmr")
      .select(col("sel_round"), col("vec_id"), round(col("mmr"), 6).as("mmr"))
      .orderBy("sel_round")
  }

  val oracleMmrRerank: String = {
    val l = MMR_L
    val rounds = (1 until MMR_K).map { r =>
      val prev = s"m${r - 1}"
      val pick =
        s"""c$r AS (
           |  SELECT vec_id, emb, rel, $l * rel - (1.0 - $l) * maxsim AS mmr
           |  FROM $prev
           |  ORDER BY round($l * rel - (1.0 - $l) * maxsim, 9) DESC, vec_id LIMIT 1)""".stripMargin
      val next = if (r < MMR_K - 1)
        s""",
           |m$r AS (
           |  SELECT p.vec_id, p.emb, p.rel,
           |         greatest(p.maxsim, ${cosSql("p.emb", "c.emb")}) AS maxsim
           |  FROM $prev p, c$r c WHERE p.vec_id <> c.vec_id)""".stripMargin
      else ""
      pick + next
    }.mkString(",\n")
    val selects = (1 until MMR_K).map(r =>
      s"UNION ALL SELECT $r, vec_id, round(mmr, 6) FROM c$r").mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
       |  FROM embeddings),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
       |pool AS (
       |  SELECT vec_id, emb, cos AS rel FROM (
       |    SELECT e.vec_id, e.emb, ${cosSql("e.emb", "q.qemb")} AS cos
       |    FROM e, q WHERE e.vec_id <> 0)
       |  ORDER BY cos DESC, vec_id LIMIT $MMR_POOL),
       |c0 AS (SELECT vec_id, emb, rel FROM pool
       |       ORDER BY round(rel, 9) DESC, vec_id LIMIT 1),
       |m0 AS (SELECT p.vec_id, p.emb, p.rel, ${cosSql("p.emb", "c.emb")} AS maxsim
       |       FROM pool p, c0 c WHERE p.vec_id <> c.vec_id),
       |$rounds
       |SELECT 0 AS sel_round, vec_id, round($l * rel, 6) AS mmr FROM c0
       |$selects
       |ORDER BY sel_round""".stripMargin
  }

  /** Contrastive hard-negative mining (`q_hard_negatives`): for every
    * anchor vector, the most-similar vector with a DIFFERENT label
    * inside the anchor's trained IVF cell — the "hardest negative"
    * an embedding-training pipeline pairs with each anchor so the
    * contrastive loss learns from near-misses instead of random
    * negatives.
    *
    * Scale shape: identical to SemDeDup's — the quadratic scan is
    * confined within coarse-quantizer cells by an equality join on
    * cell id (cell population ≈ n/K), and the per-anchor argmax is a
    * deterministic `min(struct(-cos, neg_id))` hash-agg — no window
    * over the candidate stream, no global top-k. Anchors whose cell
    * holds no other label are honestly absent (a cell purity signal in
    * itself).
    *
    * Exact-duplicate collapse (the [[lshTopK]] lesson, and the last
    * member-level within-cell pair scan the 10× battery flagged): a
    * re-crawled corpus carries verbatim copies, and copies share
    * (emb, label), so member-level cell pairs grow ×m² per m-copy
    * group. The pair scan runs over ONE representative per distinct
    * (emb, label) and the result fans back to members by equality
    * join. This is the EXACT member answer, not an approximation:
    * every member of a group shares its group's (nc, …) candidates;
    * within a candidate group the struct-min's neg_id tie-break picks
    * the group's min member id, which IS its representative; and ids
    * are unique so the cross-group tie-break never reaches neg_label
    * differently than the naive scan. The quantizer still trains on
    * the full member corpus — copies legitimately weight centroids —
    * and the oracle keeps the naive member-level formulation
    * (HardNegCollapseSpec pins row-for-row equality on a duplicated
    * corpus).
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame =
    // r14: the registered query reads the MEMOIZED trained quantizer —
    // the same (session, dir, fingerprint) centroid frame its ~9 sibling
    // index/gauge queries share — instead of re-running its own in-plan
    // Lloyd training over the identical embeddings table every run
    // (trainedCentroidsFor trains via the same trainedCentroids(s, e), so
    // the centroid frame is bit-identical). Frame-based callers (the
    // collapse spec's constructed corpora) keep training directly.
    hardNegativesOf(s, Tables.embeddings(s, dir),
      Some(trainedCentroidsFor(s, dir)))

  private[graft] def hardNegativesOf(s: SparkSession, emb: DataFrame,
      preTrained: Option[DataFrame] = None): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"), col("label"))
    val grp = e.groupBy("emb", "label").agg(min("vec_id").as("rep")).cache()
    val cent = preTrained.getOrElse(
      trainedCentroids(s, e.select(col("vec_id"), col("emb"))).cache())
    val reps = assignCells(s, grp.select(col("rep").as("vec_id"), col("emb")), cent)
      .join(grp.select(col("rep").as("vec_id"), col("label")), "vec_id")
      .select(col("vec_id").as("rep"), col("cell"), col("emb"), col("label"))
    val best = reps.as("a").join(reps.as("b"),
        col("a.cell") === col("b.cell") && col("a.label") =!= col("b.label"))
      .select(col("a.rep").as("rep"),
        struct((-cosine(s, "a.emb", "b.emb")).as("nc"),
          col("b.rep").as("neg_id"), col("b.label").as("neg_label")).as("sc"))
      .groupBy("rep")
      .agg(min("sc").as("m"))
    e.join(grp, Seq("emb", "label"))
      .select(col("vec_id"), col("label"), col("rep"))
      .join(best, "rep")
      .select(col("vec_id"), col("label"),
        col("m.neg_id").as("neg_id"), col("m.neg_label").as("neg_label"),
        round(-col("m.nc"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** Member-level reference implementation of [[qHardNegatives]] —
    * kept ONLY as the spec baseline for the duplicate collapse
    * (HardNegCollapseSpec); never registered. */
  private[graft] def hardNegativesNaive(s: SparkSession, emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cent = trainedCentroids(s, e).cache()
    val assigned = assignCells(s, e, cent)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.label") =!= col("b.label"))
      .select(col("a.vec_id").as("vec_id"), col("a.label").as("label"),
        struct((-cosine(s, "a.emb", "b.emb")).as("nc"),
          col("b.vec_id").as("neg_id"), col("b.label").as("neg_label")).as("sc"))
      .groupBy("vec_id", "label")
      .agg(min("sc").as("m"))
      .select(col("vec_id"), col("label"),
        col("m.neg_id").as("neg_id"), col("m.neg_label").as("neg_label"),
        round(-col("m.nc"), 6).as("cos"))
      .orderBy("vec_id")
  }

  val oracleHardNegatives: String =
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |lbl AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT a.vec_id, la.label, b.vec_id AS neg_id, lb.label AS neg_label,
       |    ${cosSql("a.emb", "b.emb")} AS cos
       |  FROM assigned a
       |    JOIN assigned b ON a.cell = b.cell
       |    JOIN lbl la ON a.vec_id = la.vec_id
       |    JOIN lbl lb ON b.vec_id = lb.vec_id
       |  WHERE la.label <> lb.label)
       |SELECT vec_id, label, neg_id, neg_label, round(cos, 6) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, neg_id) AS rn
       |  FROM cand) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  val oracleDedupSemantic: String =
    s"""WITH $kmeansCtes,
       |e2 AS (
       |  SELECT vec_id, emb FROM e
       |  UNION ALL
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM e),
       |         list_transform(generate_series(1, len(emb)),
       |           i -> emb[i] + CASE WHEN i = 1 THEN 0.05 ELSE 0.0 END)
       |  FROM e WHERE vec_id % 25 = 0),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e2.vec_id, e2.emb, c.cell,
       |      row_number() OVER (PARTITION BY e2.vec_id
       |        ORDER BY ${cosSql("e2.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e2 CROSS JOIN cent c) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.cell, b.vec_id AS drop_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${cosSql("a.emb", "b.emb")}, 6) >= $SEMDEDUP_TAU),
       |dropped AS (SELECT DISTINCT drop_id FROM pairs)
       |SELECT CAST(a.cell AS INT) AS cell,
       |  count(*) AS n_members,
       |  count(d.drop_id) AS n_dropped,
       |  round(count(d.drop_id) * 1.0 / count(*), 6) AS drop_frac
       |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.drop_id
       |GROUP BY a.cell ORDER BY cell""".stripMargin

  /** Thresholds the SemDeDup sweep measures — bracketing [[SEMDEDUP_TAU]]
    * from permissive to near-exact. */
  private[graft] val SEMDEDUP_TAUS = Seq(0.80, 0.90, 0.95, 0.99)

  /** SemDeDup threshold sweep (`q_semdedup_sweep`) — the curation dial
    * for [[qDedupSemantic]]: how many documents a given cosine
    * threshold τ would drop, for τ ∈ [[SEMDEDUP_TAUS]], measured from
    * ONE within-cell pair scan (the expensive part — cosines are
    * computed once with the pair's cos attached, then every τ replays
    * as a filter over the scored pair frame, the [[qKnnNprobe]]
    * replay-don't-rescore shape). Same planted-dup fixture and trained
    * quantizer as the single-τ query, so the τ=0.90 row reconciles with
    * it (spec-pinned).
    */
  def qSemdedupSweep(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // planted ids start at max(vec_id)+1 — a hard-coded offset would
    // collide with real ids once the corpus outgrows it (ScaleUp runs)
    val dups = e.filter(col("vec_id") % 25 === 0)
      .crossJoin(broadcast(e.agg((max("vec_id") + 1).as("planted_off"))))
      .select((col("vec_id") + col("planted_off")).as("vec_id"),
        transform(col("emb"), (v, i) =>
          v + when(i === 0, lit(0.05)).otherwise(lit(0.0))).as("emb"))
    val corpus = e.unionByName(dups)
    // rep-level scan + member reconstruction — see qDedupSemantic's
    // collapse note; per tau: n_dropped = (members - groups) + rep drops
    // (a same-group pair clears EVERY tau: cos rounds to 1.0 at 6dp)
    val groups = corpus.groupBy("emb")
      .agg(min("vec_id").as("vec_id"), count(lit(1)).as("gsize"))
      .localCheckpoint()
    val cent = trainedCentroidsFor(s, dir)
    val assigned = assignCells(s, groups.select("vec_id", "emb"), cent)
    val pairCos = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("drop_id"),
        round(cosine(s, "a.emb", "b.emb"), 6).as("cos"))
      .filter(col("cos") >= SEMDEDUP_TAUS.min) // one scored frame, min-τ pruned
    import s.implicits._
    val taus = broadcast(SEMDEDUP_TAUS.toDF("tau"))
    // same explode-not-theta-join shape as qKnnNprobe's probe replay
    val dropped = pairCos.select(col("drop_id"),
        explode(filter(array(SEMDEDUP_TAUS.map(lit): _*),
          t => col("cos") >= t)).as("tau"))
      .distinct()
      .groupBy("tau").agg(count(lit(1)).as("n_rep_dropped"))
    val census = groups.agg(sum("gsize").as("n_corpus"), count(lit(1)).as("n_groups"))
    taus.join(dropped, Seq("tau"), "left")
      .crossJoin(broadcast(census))
      .select(col("tau"), col("n_corpus"),
        (col("n_corpus") - col("n_groups")
          + coalesce(col("n_rep_dropped"), lit(0L))).as("n_dropped"))
      .select(col("tau"), col("n_corpus"), col("n_dropped"),
        round(col("n_dropped") / col("n_corpus").cast("double"), 6).as("drop_frac"))
      .orderBy("tau")
  }

  val oracleSemdedupSweep: String =
    s"""WITH $kmeansCtes,
       |e2 AS (
       |  SELECT vec_id, emb FROM e
       |  UNION ALL
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM e),
       |         list_transform(generate_series(1, len(emb)),
       |           i -> emb[i] + CASE WHEN i = 1 THEN 0.05 ELSE 0.0 END)
       |  FROM e WHERE vec_id % 25 = 0),
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e2.vec_id, e2.emb, c.cell,
       |      row_number() OVER (PARTITION BY e2.vec_id
       |        ORDER BY ${cosSql("e2.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e2 CROSS JOIN cent c) WHERE rn = 1),
       |paircos AS (
       |  SELECT b.vec_id AS drop_id, round(${cosSql("a.emb", "b.emb")}, 6) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(${cosSql("a.emb", "b.emb")}, 6) >= ${SEMDEDUP_TAUS.min}),
       |taus AS (${SEMDEDUP_TAUS.map(t => s"SELECT $t AS tau").mkString(" UNION ALL ")}),
       |dropped AS (
       |  SELECT tau, count(*) AS n_dropped FROM (
       |    SELECT DISTINCT t.tau, p.drop_id
       |    FROM paircos p JOIN taus t ON p.cos >= t.tau) GROUP BY tau),
       |n AS (SELECT count(*) AS n_corpus FROM assigned)
       |SELECT t.tau, n.n_corpus, coalesce(d.n_dropped, 0) AS n_dropped,
       |  round(coalesce(d.n_dropped, 0) / n.n_corpus::DOUBLE, 6) AS drop_frac
       |FROM taus t LEFT JOIN dropped d USING (tau), n
       |ORDER BY t.tau""".stripMargin

  // ------------------------------------------------------- k-center coreset

  /** Coreset size for `q_coreset_kcenter` (seed + 7 greedy picks). */
  private[graft] val CORESET_K = 8

  /** Greedy k-center (farthest-point traversal) coreset selection —
    * the diversity-sampling primitive of training-data curation: pick
    * the seed, then repeatedly add the point farthest from everything
    * chosen so far. The selected set 2-approximates the optimal
    * k-center cover, so it's the canonical "small set that spans the
    * embedding space" (dataset distillation, active-learning seeding,
    * eval-set picking).
    *
    * Scale shape: the textbook distributed farthest-point algorithm —
    * K passes, each ONE narrow scan computing `least(mind, d²(x, c))`
    * (the new center is a plan LITERAL, so no join at all) followed by
    * a TakeOrdered(1) argmax whose single row is collected; the
    * running min-distance frame is `localCheckpoint`ed per round so
    * round r's plan never replays rounds 1..r-1 (the BPE-train
    * pattern). Distances are rounded 9dp before the argmax comparison
    * (ties then break on vec_id) so cross-engine double drift can't
    * flip a pick — the Lloyd/PageRank pin.
    */
  def qCoresetKcenter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("emb"))
    def centerLit(v: Seq[Double]): Column = array(v.map(lit): _*)
    val seed = e.orderBy("vec_id").limit(1).collect()(0)
    val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, seed.getLong(0), 0.0))
    var cur = e.filter(col("vec_id") =!= seed.getLong(0))
      .select(col("vec_id"), col("emb"),
        l2sq(col("emb"), centerLit(seed.getSeq[Double](1))).as("mind"))
      .localCheckpoint()
    for (r <- 1 until CORESET_K) {
      val far = cur.orderBy(round(col("mind"), 9).desc, col("vec_id")).limit(1).collect()(0)
      picked += ((r, far.getLong(0), far.getDouble(2)))
      if (r < CORESET_K - 1)
        cur = cur.filter(col("vec_id") =!= far.getLong(0))
          .select(col("vec_id"), col("emb"),
            least(col("mind"), l2sq(col("emb"), centerLit(far.getSeq[Double](1)))).as("mind"))
          .localCheckpoint()
    }
    import s.implicits._
    picked.toSeq.toDF("sel_round", "vec_id", "dist")
      .select(col("sel_round"), col("vec_id"), round(col("dist"), 6).as("dist"))
      .orderBy("sel_round")
  }

  val oracleCoresetKcenter: String = {
    def sq(p: String, c: String): String =
      s"list_sum(list_transform(generate_series(1, len($p.emb)), " +
        s"i -> ($p.emb[i] - $c.emb[i]) * ($p.emb[i] - $c.emb[i])))"
    val rounds = (1 until CORESET_K).map { r =>
      val (prevM, prevC) = (s"m${r - 1}", s"c$r")
      val pick =
        s"""c$r AS (SELECT vec_id, emb, mind FROM ${s"m${r - 1}"}
           |  ORDER BY round(mind, 9) DESC, vec_id LIMIT 1)""".stripMargin
      val next = if (r < CORESET_K - 1)
        s""",
           |m$r AS (SELECT p.vec_id, p.emb, least(p.mind, ${sq("p", "c")}) AS mind
           |  FROM $prevM p, $prevC c WHERE p.vec_id <> c.vec_id)""".stripMargin
      else ""
      pick + next
    }.mkString(",\n")
    val selects = (1 until CORESET_K).map(r =>
      s"UNION ALL SELECT $r, vec_id, round(mind, 6) FROM c$r").mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1),
       |m0 AS (SELECT p.vec_id, p.emb, ${sq("p", "c")} AS mind
       |  FROM e p, c0 c WHERE p.vec_id <> c.vec_id),
       |$rounds
       |SELECT 0 AS sel_round, vec_id, 0.0 AS dist FROM c0
       |$selects
       |ORDER BY sel_round""".stripMargin
  }

  // ------------------------------------------------- uncertainty sampling

  private[graft] val UNC_K = 15

  /** Active-learning uncertainty sampling (`q_uncertainty_sample`) — the
    * annotation-budget allocator: the [[UNC_K]] vectors the trained
    * probe is LEAST sure about (smallest |margin|), which is where the
    * next labeling round buys the most model improvement. Margins are
    * the same 6dp-rounded polynomial over the shared [[probeWeights]]
    * as `q_auc_probe` — bit-deterministic across engines — with vec_id
    * breaking |margin| ties (a +m/−m pair ties exactly).
    *
    * Scale shape: training is the in-plan GD loop (one scan per step);
    * scoring is a 1-row weight broadcast onto the scan; the head is
    * TakeOrdered — never a global sort.
    */
  def qUncertaintySample(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), probeX.as("x"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("vec_id"), col("label"),
        round(dot(col("x"), col("w")), 6).as("margin"))
      .orderBy(abs(col("margin")), col("vec_id"))
      .limit(UNC_K)

  val oracleUncertaintySample: String =
    s"""WITH $probeTrainSql
       |SELECT vec_id, CAST(label AS INT) AS label,
       |  round($probeDotXW, 6) AS margin
       |FROM e, wi$PROBE_ITERS
       |ORDER BY abs(round($probeDotXW, 6)), vec_id LIMIT $UNC_K""".stripMargin

  // ------------------------------------------------------- gains curve

  /** Cumulative gains / lift curve (`q_gains_curve`) — the
    * model-eval readout next to [[qAucProbe]] and `q_calibration`: rank
    * the corpus by the trained probe's margin, cut into exact deciles
    * ([[graft.operators.Relational.ntileExact]] on (−margin, vec_id) —
    * its fourth call site, never a global sort), and report per decile
    * the positives captured, the cumulative capture rate, and lift vs
    * the base rate. The "top 10% of scores captures X% of positives"
    * table a targeting campaign is actually planned from.
    *
    * Determinism: margins are the shared 6dp-rounded polynomial;
    * counts are exact integers; cum math runs over the 10-row decile
    * frame only.
    */
  def qGainsCurve(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir)
      .select(col("vec_id"), when(col("label") < 5, 1L).otherwise(0L).as("y"),
        probeX.as("x"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("vec_id"), col("y"),
        (-round(dot(col("x"), col("w")), 6)).as("negm"))
    val deciles = graft.operators.Relational
      .ntileExact(scored, "negm", "vec_id", 10, "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    deciles
      .withColumn("cum_pos", sum("n_pos").over(cum))
      .withColumn("tot_pos", sum("n_pos").over(tot))
      .withColumn("cum_n", sum("n").over(cum))
      .withColumn("tot_n", sum("n").over(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        round(col("cum_pos").cast("double") / col("tot_pos"), 6)
          .as("cum_capture"),
        round((col("cum_pos").cast("double") / col("cum_n")) /
          (col("tot_pos").cast("double") / col("tot_n")), 6).as("cum_lift"))
      .orderBy("decile")
  }

  val oracleGainsCurve: String =
    s"""WITH $probeTrainSql,
       |sc AS (
       |  SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |    -round($probeDotXW, 6) AS negm
       |  FROM e, wi$PROBE_ITERS),
       |dt AS (
       |  SELECT y, CAST(ntile(10) OVER (ORDER BY negm, vec_id) AS INT) AS decile
       |  FROM sc),
       |d AS (SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
       |      FROM dt GROUP BY decile)
       |SELECT decile, n, n_pos,
       |  round((sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING))::DOUBLE
       |    / (sum(n_pos) OVER ()), 6) AS cum_capture,
       |  round(((sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING))::DOUBLE
       |      / (sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)))
       |    / ((sum(n_pos) OVER ())::DOUBLE / (sum(n) OVER ())), 6) AS cum_lift
       |FROM d ORDER BY decile""".stripMargin

  // -------------------------------------------------- scalar quantization

  /** int8 scalar-quantization audit (`q_embedding_sq`) — the 4×
    * storage-compression dial every vector store offers, measured
    * before anyone flips it: per-dimension min/max train the 256-level
    * grid, every vector round-trips through its codes, and the per-label
    * readout reports the reconstruction error the quantizer would
    * inject (alongside [[qKnnPq]]'s codebook approach — SQ is the
    * cheaper, dimension-independent baseline).
    *
    * Scale shape: the per-dim range table is ONE posexplode hash-agg
    * folded to a 1-row pair of 64-long arrays (the Lloyd collect
    * pattern) and broadcast; encode+decode+error is a scan-side fold
    * over the constant DIM — no shuffle beyond the |labels| aggregate.
    * The fold mirrors DuckDB's list_sum order exactly (the [[dot]]
    * convention).
    */
  def qEmbeddingSq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val dims = e.select(posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("vmin"), max("v").as("vmax"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("vmin")))),
          x => x.getField("vmin")).as("mins"),
        transform(array_sort(collect_list(struct(col("dim"), col("vmax")))),
          x => x.getField("vmax")).as("maxs"))
    val errTerm = (i: Column) => {
      val v = element_at(col("emb"), i)
      val mn = element_at(col("mins"), i)
      val span = element_at(col("maxs"), i) - mn
      val code = when(span > 0d, round((v - mn) / span * 255d, 0)).otherwise(lit(0d))
      val recon = mn + code / lit(255d) * span
      (v - recon) * (v - recon)
    }
    e.crossJoin(broadcast(dims))
      .select(col("label"),
        aggregate(sequence(lit(1), lit(DIM)), lit(0d),
          (acc, i) => acc + errTerm(i)).as("err"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("err") / DIM), 6).as("mse"),
        round(max(col("err")), 6).as("max_vec_err"))
      .orderBy("label")
  }

  val oracleEmbeddingSq: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, v -> v::DOUBLE) AS emb
       |  FROM embeddings),
       |d AS (
       |  SELECT dim, min(v) AS vmin, max(v) AS vmax
       |  FROM (SELECT unnest(emb) AS v,
       |          unnest(generate_series(1, len(emb))) AS dim FROM e)
       |  GROUP BY dim),
       |g AS (SELECT list(vmin ORDER BY dim) AS mins,
       |        list(vmax ORDER BY dim) AS maxs FROM d),
       |sc AS (
       |  SELECT label,
       |    list_sum(list_transform(generate_series(1, $DIM), i ->
       |      CASE WHEN maxs[i] - mins[i] > 0 THEN
       |        (emb[i] - (mins[i] + round((emb[i] - mins[i]) / (maxs[i] - mins[i]) * 255, 0)
       |          / 255 * (maxs[i] - mins[i])))
       |        * (emb[i] - (mins[i] + round((emb[i] - mins[i]) / (maxs[i] - mins[i]) * 255, 0)
       |          / 255 * (maxs[i] - mins[i])))
       |      ELSE (emb[i] - mins[i]) * (emb[i] - mins[i]) END)) AS err
       |  FROM e, g)
       |SELECT label, count(*) AS n,
       |  round(avg(err / $DIM), 6) AS mse,
       |  round(max(err), 6) AS max_vec_err
       |FROM sc GROUP BY label ORDER BY label""".stripMargin

  // ------------------------------------------------------ cluster profile

  /** Cluster-quality profile of the trained IVF quantizer
    * (`q_kmeans_profile`) — the operational answer to "are my K cells
    * any good before I hang an ANN index off them": per cell, the
    * member count, corpus share, mean cosine-to-own-centroid
    * (cohesion) and the worst-assigned member's cosine (the cell's
    * fringe — where IVF recall dies first). The mean is an
    * integer-micros sum of 6dp-rounded cosines (exact, order-free);
    * the share divides by the 1-row total frame, never a global
    * window.
    *
    * Scale shape: training and assignment are the [[trainedCentroids]]
    * / [[assignCells]] plans (per-iteration broadcast of K centroids +
    * map-side-combinable argmin); the profile itself is one K-row
    * aggregate re-joined against the broadcast K-row centroid frame.
    * Nothing here changes shape with the corpus.
    */
  def qKmeansProfile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cent = trainedCentroidsFor(s, dir)
    val per = assignCells(s, e, cent)
      .join(broadcast(cent), "cell")
      .select(col("cell"), round(cosine(s, "emb", "centroid"), 6).as("c"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        sum(round(col("c") * 1e6).cast("long")).as("micro"),
        min(col("c")).as("min_cos"))
    val tot = per.agg(sum("n").as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"),
        round(col("n") / col("tot"), 6).as("share"),
        round(col("micro") / 1e6 / col("n"), 6).as("mean_cos"),
        col("min_cos"))
      .orderBy("cell")
  }

  val oracleKmeansProfile: String =
    s"""WITH $kmeansCtes,
       |assigned AS (
       |  SELECT vec_id, emb, cell FROM (
       |    SELECT e.vec_id, e.emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.emb", "c.centroid")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent c) WHERE rn = 1),
       |per AS (
       |  SELECT cell, count(*) AS n,
       |    sum(CAST(round(round(${cosSql("a.emb", "c.centroid")}, 6) * 1000000) AS BIGINT)) AS micro,
       |    min(round(${cosSql("a.emb", "c.centroid")}, 6)) AS min_cos
       |  FROM assigned a JOIN cent c USING (cell)
       |  GROUP BY cell),
       |t AS (SELECT sum(n) AS tot FROM per)
       |SELECT CAST(cell AS INT) AS cell, n,
       |  round(n / tot, 6) AS share,
       |  round(CAST(micro AS BIGINT) / 1000000.0 / n, 6) AS mean_cos,
       |  min_cos
       |FROM per, t ORDER BY cell""".stripMargin

  // ------------------------------------------------------------- silhouette
  /** Simplified (centroid-based) silhouette per trained cluster: for
    * each vector, a = distance to its own centroid, b = distance to the
    * best OTHER centroid; with cosine distance d = 1 − cos this
    * simplifies to s = (cos₁ − cos₂)/(1 − cos₂). The separation gauge
    * [[qKmeansProfile]] lacks: mean_cos says how TIGHT a cell is, the
    * silhouette says whether its members would rather live elsewhere
    * (negative s ⇒ the quantizer's cell boundary cuts a natural
    * cluster — the signal to raise IVF_K before trusting cell-confined
    * semantic dedup).
    *
    * The full-silhouette-vs-simplified tradeoff is deliberate: exact
    * silhouette is all-pairs within cells (O(Σ n_c²) — the quadratic
    * this codebase bans); the centroid form is one K-bounded broadcast
    * per row and is the standard approximation at scale.
    *
    * Exactness: cosines round to 6dp before the top-2 sort (identical
    * doubles both engines, ties to the lower cell id); per-cell means
    * fold as integer micros.
    *
    * Scale: |corpus|×K scored rows reduce in ONE map-side-combinable
    * aggregate (collect_list is K-bounded per group); no window, no
    * per-cell materialization.
    */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cent = trainedCentroidsFor(s, dir)
    val scored = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cell"),
        round(cosine(s, "emb", "centroid"), 6).as("c"))
    val top2 = scored
      .groupBy("vec_id")
      .agg(array_sort(collect_list(
        struct((-col("c")).as("nc"), col("cell").as("cl")))).as("arr"))
      .select(
        col("arr")(0)("cl").as("cell"),
        (-col("arr")(0)("nc")).as("c1"),
        (-col("arr")(1)("nc")).as("c2"))
    val sil = top2.select(col("cell"),
      when(lit(1.0) - col("c2") =!= 0.0,
        round((col("c1") - col("c2")) / (lit(1.0) - col("c2")), 6)).as("sil"))
    sil.groupBy("cell")
      .agg(count(lit(1)).as("n"),
        count(col("sil")).as("n_scored"),
        round(sum(round(col("sil") * 1e6).cast("long")) / 1e6
          / count(col("sil")), 6).as("mean_sil"),
        min(col("sil")).as("min_sil"),
        sum((col("sil") < 0).cast("long")).as("n_neg"))
      .orderBy("cell")
  }

  val oracleSilhouette: String =
    s"""WITH $kmeansCtes,
       |sc AS (
       |  SELECT e.vec_id, c.cell, round(${cosSql("e.emb", "c.centroid")}, 6) AS c
       |  FROM e CROSS JOIN cent c),
       |top2 AS (
       |  SELECT vec_id,
       |    (list(cell ORDER BY c DESC, cell))[1] AS cell,
       |    (list(c ORDER BY c DESC, cell))[1] AS c1,
       |    (list(c ORDER BY c DESC, cell))[2] AS c2
       |  FROM sc GROUP BY vec_id),
       |s AS (
       |  SELECT cell,
       |    CASE WHEN 1.0 - c2 <> 0 THEN round((c1 - c2) / (1.0 - c2), 6) END AS sil
       |  FROM top2)
       |SELECT CAST(cell AS INT) AS cell, count(*) AS n, count(sil) AS n_scored,
       |  round(CAST(sum(CAST(round(sil * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0
       |    / count(sil), 6) AS mean_sil,
       |  min(sil) AS min_sil,
       |  CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       |FROM s GROUP BY cell ORDER BY cell""".stripMargin

  // ---------------------------------------------------------- OOD scoring
  private[graft] val OOD_TOP = 20

  /** Diagonal-covariance Mahalanobis OOD screen: per-dimension corpus
    * mean/stddev, each vector scored by √Σ((v−μ)/σ)², top-[[OOD_TOP]]
    * reported. The DISTRIBUTIONAL outlier complement to
    * [[qKnnOutlier]]'s kNN-distance screen: kNN flags points far from
    * their neighbors (local density), Mahalanobis flags points whose
    * coordinates are jointly implausible under the corpus distribution
    * (global shape) — a vector can be OOD while sitting in a tight
    * cluster of fellow outliers, which kNN misses by construction.
    * Diagonal covariance chosen over full-matrix deliberately: a
    * DIM×DIM inverse is a driver-side dense solve that doesn't
    * distribute; the diagonal form is one broadcast and is the standard
    * embedding-monitoring approximation.
    *
    * Exactness: per-dim μ/σ round to 6dp before use (identical doubles
    * both engines); each z² term rounds to integer micros so the
    * per-vector sum folds BIGINT-exact in any order; constant dims
    * (σ=0) null out and drop from the sum identically.
    *
    * Scale: the per-dim stats are ONE map-side-combinable DIM-keyed
    * aggregate (the q_embedding_pca shape); scoring is a DIM-row
    * broadcast join + one vec-keyed combine; the report is a bounded
    * TakeOrdered on the rounded score with vec_id ties — no global
    * sort, no window.
    */
  def qOodScore(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val x = e.select(col("vec_id"), col("label"),
      posexplode(col("emb")).as(Seq("pos", "v")))
    val stats = x.groupBy("pos")
      .agg(round(avg("v"), 6).as("mu"), round(stddev_pop("v"), 6).as("sd"))
    val z = (col("v") - col("mu")) / col("sd")
    x.join(broadcast(stats), "pos")
      .select(col("vec_id"), col("label"),
        when(col("sd") =!= 0.0, round(z * z * 1e6).cast("long")).as("z2_micro"))
      .groupBy("vec_id", "label")
      .agg(sum("z2_micro").as("md2_micro"))
      .select(col("vec_id"), col("label"),
        round(sqrt(col("md2_micro") / 1e6), 6).as("mahal"))
      .orderBy(desc("mahal"), col("vec_id"))
      .limit(OOD_TOP)
  }

  val oracleOodScore: String =
    s"""WITH e AS (SELECT vec_id, label, embedding AS emb FROM embeddings),
       |x AS (
       |  SELECT vec_id, label, i AS pos, emb[i]::DOUBLE AS v
       |  FROM e, unnest(generate_series(1, len(emb))) AS t(i)),
       |st AS (
       |  SELECT pos, round(avg(v), 6) AS mu, round(stddev_pop(v), 6) AS sd
       |  FROM x GROUP BY pos),
       |tm AS (
       |  SELECT vec_id, label,
       |    CASE WHEN sd <> 0.0
       |      THEN CAST(round(((v - mu) / sd) * ((v - mu) / sd) * 1000000) AS BIGINT)
       |    END AS z2
       |  FROM x JOIN st USING (pos)),
       |md AS (
       |  SELECT vec_id, label, CAST(sum(z2) AS BIGINT) AS m
       |  FROM tm GROUP BY vec_id, label)
       |SELECT vec_id, label, round(sqrt(m / 1000000.0), 6) AS mahal
       |FROM md ORDER BY mahal DESC, vec_id LIMIT $OOD_TOP""".stripMargin

  // --------------------------------------------------- principal component

  /** Power-iteration count for [[qEmbeddingPca]]. The start vector is
    * uniform 1/8 over DIM=64 dims — exactly unit norm with no sqrt, so
    * both engines begin from literally identical doubles. */
  private[graft] val PCA_ITERS = 3

  /** Trained PCA state: (1-row covariance-matrix frame, 1-row unit
    * eigvec-estimate frame after [[PCA_ITERS]] power steps). Split out
    * so the spec can pin the full weight vector against a local
    * reference replay, not just the reported top-5 loadings. */
  private[graft] def pcaParts(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    // per-dim means (map-side combinable, DIM-bounded output) + corpus n
    val stats = e.select(posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("pos").agg(round(avg("v"), 6).as("m"), count(lit(1)).as("cnt"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("mu"),
        max("cnt").as("n"))
      .localCheckpoint()
    // centered coordinates rounded 6dp BEFORE any product, so the
    // covariance sums below fold identical doubles in both engines
    val xc = e.crossJoin(broadcast(stats.select("mu")))
      .select(transform(zip_with(col("emb"), col("mu"), (a, b) => a - b),
        v => round(v, 6)).as("x"))
    // DIM² covariance as ONE map-side-combinable aggregate: two chained
    // position explodes keep the per-pair product in pure codegen (no
    // HOF lambda on the corpus-proportional path, no self-join), and the
    // entry sums are integer micros — exact and summation-order-free.
    // |x·x·1e6| ≤ ~4e6 per row keeps the long sum safe past 1e12 vectors.
    // The matrix is symmetric and round(xi·xj·1e6) is commutative, so
    // only the UPPER TRIANGLE (j ≥ i, DIM·(DIM+1)/2 keys instead of
    // DIM²) flows through the corpus-proportional explode+aggregate —
    // the lower triangle is mirrored afterwards from the checkpointed
    // 2080-row half matrix (guide §2.3: halve the rows feeding the
    // expensive aggregate; this one aggregate dominated q_embedding_pca
    // AND q_effective_rank). Mirrored micros are the SAME longs, so
    // every downstream value is bit-identical to the full-square fold.
    val half = xc
      .select(posexplode(col("x")).as(Seq("i", "xi")), col("x"))
      .select(col("i"), col("xi"),
        posexplode(slice(col("x"), col("i") + 1, lit(DIM))).as(Seq("dj", "xj")))
      .select(col("i"), (col("i") + col("dj")).as("j"),
        round(col("xi") * col("xj") * 1e6).cast("long").as("m"))
      .groupBy("i", "j").agg(sum("m").as("micro"))
      .localCheckpoint() // enum-sized; read twice by the mirror union
    val prods = half.unionByName(half.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("micro")))
    // the enum-sized (DIM×DIM) matrix collapses to a 1-row nested
    // array; checkpointed because every power step below re-reads it —
    // uncheckpointed, each step would replay the corpus pass
    val covm = prods.crossJoin(broadcast(stats.select("n")))
      .select(col("i"), col("j"),
        round(col("micro") / 1e6 / col("n"), 6).as("c"))
      .groupBy("i")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("c")))),
        x => x.getField("c")).as("rw"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("rw")))),
        x => x.getField("rw")).as("cm"))
      .localCheckpoint()
    var w = s.range(1).select(
      transform(sequence(lit(1), lit(DIM)), _ => lit(0.125)).as("w"))
    for (_ <- 1 to PCA_ITERS) {
      // y = C·w (left-to-right fold per row, 6dp), then w = y/|y| (6dp):
      // every step runs on the 1-row matrix frame, entirely off-corpus
      val y = covm.crossJoin(broadcast(w))
        .select(transform(col("cm"), rw =>
          round(aggregate(zip_with(rw, col("w"), (a, b) => a * b),
            lit(0.0), (acc, v) => acc + v), 6)).as("y"))
      w = y.select(transform(col("y"), v =>
        round(v / sqrt(aggregate(col("y"), lit(0.0), (acc, u) => acc + u * u)),
          6)).as("w"))
    }
    (covm, w)
  }

  /** Top principal component of the embedding corpus
    * (`q_embedding_pca`) — distributed PCA the way a 100 TB pipeline
    * actually runs it: ONE corpus pass builds the DIM×DIM covariance
    * ([[pcaParts]]), then power iteration runs on the enum-sized
    * matrix frame. Reports the top-5 loading dims, the eigenvalue
    * (Rayleigh quotient wᵀCw) and the explained-variance share
    * (λ / trace C) — the "is one direction eating my embedding
    * space" diagnostic that decides whether JL/SQ compression
    * ([[qEmbeddingJl]]/[[qEmbeddingSq]]) is safe.
    *
    * Determinism: per-dim means and centered values round 6dp before
    * any product, covariance entries are integer-micros sums of
    * identical doubles, and each power step rounds y and w 6dp — the
    * probeWeights discipline applied to linear algebra, so the DuckDB
    * replay walks bit-identical state through all [[PCA_ITERS]]
    * iterations.
    */
  def qEmbeddingPca(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("emb"))
    val (covm, w) = pcaParts(s, e)
    val fin = covm.crossJoin(broadcast(w))
      .select(col("cm"), col("w"),
        transform(col("cm"), rw =>
          round(aggregate(zip_with(rw, col("w"), (a, b) => a * b),
            lit(0.0), (acc, v) => acc + v), 6)).as("y"))
      .select(col("w"),
        round(aggregate(zip_with(col("w"), col("y"), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v), 6).as("lambda"),
        round(aggregate(sequence(lit(1), lit(DIM)), lit(0.0),
          (acc, i) => acc + element_at(element_at(col("cm"), i), i)), 6)
          .as("tr"))
    fin.select(col("lambda"),
        round(col("lambda") / col("tr"), 6).as("explained_share"),
        posexplode(slice(array_sort(transform(sequence(lit(1), lit(DIM)), i =>
          struct((-abs(element_at(col("w"), i))).as("na"),
            i.cast("long").as("dim"),
            element_at(col("w"), i).as("ld")))), 1, 5)).as(Seq("p", "t")))
      .select((col("p") + 1).cast("long").as("rank"),
        col("t.dim").as("dim"), col("t.ld").as("loading"),
        col("lambda"), col("explained_share"))
      .orderBy("rank")
  }

  /** Shared oracle CTE prefix: the exact-integer-micros covariance
    * matrix (`e`, `st`, `xc`, `pr`, `cmr`, `cm`) both PCA-family
    * oracles read. */
  private val pcaCovCtes: String =
    s"""e AS (
       |  SELECT list_transform(embedding, v -> v::DOUBLE) AS emb FROM embeddings),
       |st AS (
       |  SELECT list(m ORDER BY pos) AS mu, max(cnt) AS n FROM (
       |    SELECT pos, round(avg(v), 6) AS m, count(*) AS cnt FROM (
       |      SELECT unnest(emb) AS v,
       |             unnest(generate_series(1, len(emb))) AS pos FROM e)
       |    GROUP BY pos)),
       |xc AS (
       |  SELECT list_transform(generate_series(1, $DIM),
       |    i -> round(emb[i] - mu[i], 6)) AS x
       |  FROM e, st),
       |pr AS (
       |  SELECT i, j, sum(CAST(round(x[i] * x[j] * 1000000) AS BIGINT)) AS micro
       |  FROM xc, generate_series(1, $DIM) gi(i), generate_series(1, $DIM) gj(j)
       |  GROUP BY i, j),
       |cmr AS (
       |  SELECT i, list(round(CAST(micro AS BIGINT) / 1000000.0 / n, 6)
       |                 ORDER BY j) AS rw
       |  FROM pr, st GROUP BY i, n),
       |cm AS (SELECT list(rw ORDER BY i) AS cm FROM cmr)"""
      .stripMargin

  val oracleEmbeddingPca: String = {
    val cw = s"round(list_sum(list_transform(generate_series(1, $DIM), " +
      "i -> rw[i] * w[i])), 6)"
    def step(prevW: String, k: Int): String =
      s"""y$k AS (
         |  SELECT list_transform(cm, rw -> $cw) AS y FROM cm, $prevW),
         |w$k AS (
         |  SELECT list_transform(y, v ->
         |    round(v / sqrt(list_sum(list_transform(y, u -> u * u))), 6)) AS w
         |  FROM y$k)""".stripMargin
    val steps = (1 to PCA_ITERS)
      .map(k => step(if (k == 1) "w0" else s"w${k - 1}", k)).mkString(",\n")
    s"""WITH $pcaCovCtes,
       |w0 AS (SELECT list_transform(generate_series(1, $DIM), i -> 0.125) AS w),
       |$steps,
       |fy AS (
       |  SELECT w, cm, list_transform(cm, rw -> $cw) AS y
       |  FROM cm, w$PCA_ITERS),
       |mets AS (
       |  SELECT w,
       |    round(list_sum(list_transform(generate_series(1, $DIM),
       |      i -> w[i] * y[i])), 6) AS lambda,
       |    round(list_sum(list_transform(generate_series(1, $DIM),
       |      i -> cm[i][i])), 6) AS tr
       |  FROM fy),
       |tops AS (
       |  SELECT row_number() OVER (ORDER BY abs(w[i]) DESC, i) AS rank,
       |    i AS dim, w[i] AS loading, lambda,
       |    round(lambda / tr, 6) AS explained_share
       |  FROM mets, generate_series(1, $DIM) g(i))
       |SELECT rank, dim, loading, lambda, explained_share
       |FROM tops WHERE rank <= 5 ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------- IPW effect
  /** Propensity clip bounds for [[qIpwEffect]] — literal text shared
    * with the oracle. */
  private val IPW_LO = "0.05"
  private val IPW_HI = "0.95"

  /** Inverse-propensity-weighted effect estimate (`q_ipw_effect`) —
    * the observational-causal sibling of the experimentation family
    * (`q_ab_welch` randomizes; this DEBIASES a non-randomized split):
    * treatment = the probe target (label < 5), outcome = the vector's
    * squared norm, propensity = the TRAINED linear probe's sigmoid
    * score ([[probeWeights]] — the artifact-reuse discipline), clipped
    * to [[[IPW_LO]], [[IPW_HI]]]; Hájek-normalized arm means.
    *
    * Determinism: the propensity is rounded 6dp; every per-row weighted
    * term (out/e, 1/e) is rounded to an exact integer unit BEFORE the
    * arm sums, so both engines fold identical integers and divide
    * identical totals. Scale: one scan of the feature frame against the
    * broadcast 1-row weight vector; two integer sums per arm.
    */
  def qIpwEffect(s: SparkSession, dir: String): DataFrame = {
    val embD = col("embedding").cast("array<double>")
    val rows = Tables.embeddings(s, dir)
      .select(when(col("label") < 5, 1L).otherwise(0L).as("t"),
        probeX.as("x"),
        round(dot(embD, embD) * 1e4).cast("long").as("out_e4"))
      .crossJoin(broadcast(probeWeightsFor(s, dir)))
      .select(col("t"), col("out_e4"),
        least(greatest(round(lit(1.0) / (lit(1.0) + exp(-dot(col("x"), col("w")))), 6),
          lit(IPW_LO.toDouble)), lit(IPW_HI.toDouble)).as("e"))
    val terms = rows.select(col("t"), col("out_e4"),
      round(when(col("t") === 1L, col("out_e4") / col("e"))
        .otherwise(col("out_e4") / (lit(1.0) - col("e")))).cast("long").as("wy"),
      round(when(col("t") === 1L, lit(1.0) / col("e"))
        .otherwise(lit(1.0) / (lit(1.0) - col("e"))) * 1e6).cast("long").as("w6"))
    def d(c: String) = col(c).cast("double")
    val ipwT = d("sty") / d("stw") * 100.0
    val ipwC = d("scy") / d("scw") * 100.0
    terms.agg(
        sum(col("t")).as("n_treat"),
        sum(lit(1L) - col("t")).as("n_ctrl"),
        sum(when(col("t") === 1L, col("out_e4"))).as("so_t"),
        sum(when(col("t") === 0L, col("out_e4"))).as("so_c"),
        sum(when(col("t") === 1L, col("wy"))).as("sty"),
        sum(when(col("t") === 1L, col("w6"))).as("stw"),
        sum(when(col("t") === 0L, col("wy"))).as("scy"),
        sum(when(col("t") === 0L, col("w6"))).as("scw"))
      .select(col("n_treat"), col("n_ctrl"),
        // + 0.0 folds IEEE negative zero (a ~0 contrast rounds to -0.0
        // in one engine and 0.0 in the other — the q_heaps_fit lesson)
        (round(d("so_t") / d("n_treat") / 10000.0
          - d("so_c") / d("n_ctrl") / 10000.0, 4) + 0.0).as("naive_diff"),
        round(ipwT, 4).as("ipw_treat"),
        round(ipwC, 4).as("ipw_ctrl"),
        (round(ipwT - ipwC, 4) + 0.0).as("ate_ipw"))
  }

  val oracleIpwEffect: String =
    s"""WITH $probeTrainSql,
       |base AS (
       |  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS t, x,
       |    CAST(round(list_sum(list_transform(x[2:${1 + DIM}], v -> v * v)) * 1e4) AS BIGINT) AS out_e4
       |  FROM e),
       |scored AS (
       |  SELECT t, out_e4,
       |    least(greatest(round(1.0 / (1.0 + exp(-($probeDotXW))), 6), $IPW_LO), $IPW_HI) AS e
       |  FROM base, wi$PROBE_ITERS),
       |terms AS (
       |  SELECT t, out_e4,
       |    CAST(round(CASE WHEN t = 1 THEN out_e4 / e ELSE out_e4 / (1.0 - e) END) AS BIGINT) AS wy,
       |    CAST(round(CASE WHEN t = 1 THEN 1.0 / e ELSE 1.0 / (1.0 - e) END * 1e6) AS BIGINT) AS w6
       |  FROM scored),
       |agg AS (
       |  SELECT CAST(sum(t) AS BIGINT) AS n_treat,
       |    CAST(sum(1 - t) AS BIGINT) AS n_ctrl,
       |    CAST(sum(CASE WHEN t = 1 THEN out_e4 END) AS BIGINT) AS so_t,
       |    CAST(sum(CASE WHEN t = 0 THEN out_e4 END) AS BIGINT) AS so_c,
       |    CAST(sum(CASE WHEN t = 1 THEN wy END) AS BIGINT) AS sty,
       |    CAST(sum(CASE WHEN t = 1 THEN w6 END) AS BIGINT) AS stw,
       |    CAST(sum(CASE WHEN t = 0 THEN wy END) AS BIGINT) AS scy,
       |    CAST(sum(CASE WHEN t = 0 THEN w6 END) AS BIGINT) AS scw
       |  FROM terms)
       |SELECT n_treat, n_ctrl,
       |  round(CAST(so_t AS DOUBLE) / CAST(n_treat AS DOUBLE) / 10000.0
       |    - CAST(so_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE) / 10000.0, 4) + 0.0 AS naive_diff,
       |  round(CAST(sty AS DOUBLE) / CAST(stw AS DOUBLE) * 100.0, 4) AS ipw_treat,
       |  round(CAST(scy AS DOUBLE) / CAST(scw AS DOUBLE) * 100.0, 4) AS ipw_ctrl,
       |  round(CAST(sty AS DOUBLE) / CAST(stw AS DOUBLE) * 100.0
       |    - CAST(scy AS DOUBLE) / CAST(scw AS DOUBLE) * 100.0, 4) + 0.0 AS ate_ipw
       |FROM agg""".stripMargin

  // ------------------------------------------------- effective rank
  /** Embedding effective rank (`q_effective_rank`): the participation
    * ratio tr(C)²/tr(C²) of the covariance spectrum — how many
    * dimensions the corpus ACTUALLY uses (≈DIM isotropic, ≈1 collapsed)
    * — the representation-collapse gauge a training pipeline reads
    * before trusting any cosine-based dedup or retrieval, and the
    * whole-spectrum summary `q_embedding_pca`'s single top component
    * cannot give. No eigensolver: tr(C²) = Σᵢⱼ C²ᵢⱼ, so both numbers
    * come straight off the exact-integer-micros covariance matrix
    * (the pcaParts artifact, built in ONE corpus pass) with fixed-order
    * folds over the DIM² frame.
    */
  def qEffectiveRank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("emb"))
    val (covm, _) = pcaParts(s, e)
    covm
      .select(
        aggregate(sequence(lit(1), lit(DIM)), lit(0.0),
          (acc, i) => acc + element_at(element_at(col("cm"), i), i)).as("tr"),
        aggregate(col("cm"), lit(0.0),
          (acc, rw) => acc + aggregate(rw, lit(0.0), (a, v) => a + v * v))
          .as("fr"))
      .select(lit(DIM.toLong).as("dim"),
        round(col("tr"), 6).as("trace"),
        round(col("tr") * col("tr") / col("fr"), 4).as("effective_rank"),
        round(col("tr") * col("tr") / col("fr") / DIM, 6).as("isotropy"))
  }

  val oracleEffectiveRank: String =
    s"""WITH $pcaCovCtes,
       |m AS (SELECT
       |  list_sum(list_transform(generate_series(1, $DIM), i -> cm[i][i])) AS tr,
       |  list_sum(list_transform(cm,
       |    rw -> list_sum(list_transform(rw, v -> v * v)))) AS fr
       |  FROM cm)
       |SELECT CAST($DIM AS BIGINT) AS dim, round(tr, 6) AS trace,
       |  round(tr * tr / fr, 4) AS effective_rank,
       |  round(tr * tr / fr / $DIM.0, 6) AS isotropy
       |FROM m""".stripMargin
}
