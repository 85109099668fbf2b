package graft.operators

import graft.{SharedArtifacts, Tables}
import graft.functions.HashFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` / `embeddings` tables.
  *
  * Every method has an exactly-mirrored DuckDB oracle (the `oracle*` SQL
  * strings) built on the shared md5-based h60 hash, so results hash-match
  * across engines.
  *
  * Scale design (100 TB):
  *  - No O(n²) pair generation anywhere. Candidates come from equality
  *    joins on shared shingles / LSH band hashes / simhash bands, which
  *    Spark executes as ordinary shuffle hash joins. Quadratic work happens
  *    only within a candidate bucket.
  *  - Exact dedup is a single hash-aggregate (map-side combined).
  *  - MinHash signatures are computed in one pass over the exploded
  *    shingle table (12 min-aggregates, no per-hash re-scan).
  *  - Exact duplicates are collapsed to one representative per distinct
  *    text BEFORE any signature/banding pass ([[collapseExact]]): a
  *    duplicate cluster shares every band across every copy, so banding
  *    raw docs pays k² candidate rows per k-copy cluster. Hot shingles
  *    are additionally df-capped for Jaccard ([[MAX_SHINGLE_DF]]).
  */
object Dedup {

  private val JACCARD_T = 0.8
  private val MINHASH_K = 12 // 6 bands x 2 rows
  private val BANDS     = 6
  private val SIM_BITS  = 60 // h60-backed simhash width
  private val SIM_BANDS = 4  // 15 bits per band -> catches hamming<=3

  /** Stop-shingle cutoff for Jaccard candidate generation: a shingle
    * shared by k documents contributes k² candidate rows, so one hot
    * shingle ("click here to subscribe") can go quadratic on a web-scale
    * corpus. Shingles above this document frequency are dropped from BOTH
    * the candidate join and the per-doc counts (i.e. Jaccard is computed
    * over the stop-filtered shingle sets — the standard near-dup recipe).
    * The driver corpus peaks at ~25 docs/shingle, so the cap is inert at
    * test SF and purely a scale guard.
    *
    * Interplay with [[collapseExact]] (spec'd in DedupScaleSpec): the cap
    * counts document frequency over distinct-text REPRESENTATIVES, so a
    * million-copy boilerplate cluster contributes df=1 per shingle — it
    * can never trip the cap and silently vanish from Jaccard. Only a
    * shingle genuinely shared by >MAX_SHINGLE_DF distinct texts is
    * dropped, which is exactly the hot-boilerplate-fragment case the cap
    * exists for.
    */
  private[graft] val MAX_SHINGLE_DF = 100

  // -------------------------------------------------- exact-dup collapse
  /** Collapse exact duplicates to one representative per distinct text:
    * (doc_id = min member, text, copies). EVERY near-dup candidate
    * generator below runs over these representatives, not raw documents —
    * a k-copy duplicate cluster (web boilerplate routinely reaches 10⁵
    * copies) shares all MinHash/SimHash bands across every copy, so
    * running banding over raw docs emits k² candidate rows out of a
    * single bucket. Collapsing first is one extra map-side-combinable
    * hash-aggregate (keyed on md5(text), not the text itself, so the
    * shuffle carries 32 bytes + one text per distinct value) and bounds
    * every band bucket by DISTINCT texts. Pair results carry `copies` per
    * side; `q_dedup_exact` is the member-level expansion.
    */
  private[graft] def collapseExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("doc_id"), min("text").as("text"),
        count(lit(1)).as("copies"))
      .drop("text_hash")

  private val repsCte =
    """reps AS (
      |  SELECT min(doc_id) AS doc_id, min(text) AS text, count(*) AS copies
      |  FROM documents GROUP BY md5(text))""".stripMargin

  // ---------------------------------------------------------------- exact
  /** Exact duplicate clusters by md5(text): one row per distinct text. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))
      .orderBy("text_hash")

  val oracleExact: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- fingerprint
  /** Normalized-text 60-bit fingerprint per document. */
  def qDedupFingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), h60(norm).as("fingerprint"))
      .orderBy("doc_id")
  }

  val oracleFingerprint: String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    s"SELECT doc_id, ${h60Sql(norm)} AS fingerprint FROM documents ORDER BY doc_id"
  }

  // -------------------------------------------------------- ngram jaccard
  /** (doc_id, sh) exploded distinct-shingle table over the given docs
    * frame (callers pass [[collapseExact]] representatives), shingles
    * already HASHED to 60-bit longs: the string leaves the plan at the
    * scan edge and every downstream shuffle/join/agg keys on 8 bytes
    * instead of a ~30-byte string — at 100 TB the candidate join's
    * shuffle volume is the dedup bill. The hash is mirrored in the
    * oracle, so even the (astronomically unlikely) collision behaves
    * identically in both engines.
    */
  private[graft] def shingleTable(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"), 3)).as("shingle"))
      .select(col("doc_id"), h60(col("shingle")).as("sh"))

  /** Doc-frequency cap without a per-key window: rows whose `key` value
    * occurs more than [[MAX_SHINGLE_DF]] times are dropped via a
    * map-side-combinable count plus a BROADCAST anti-join on the hot
    * set. The hot set is bounded by N/cap DISTINCT values and in
    * practice is a handful of boilerplate shingles, so it broadcasts at
    * any corpus size that matters; the exploded table itself is never
    * shuffled for the filter and no task ever materializes a hot key's
    * occurrence list (a `count().over(partitionBy(key))` window did —
    * one straggler task per million-doc boilerplate phrase). */
  private def dropHotKeys(rows: DataFrame, key: String): DataFrame = {
    // materialize the exploded table ONCE (r13): the hot-set aggregate
    // and the anti-join probe side both read `rows`, and lazily that ran
    // the whole upstream pipeline (collapse → shingle explode → h60, an
    // md5 per shingle) TWICE per query. The materialized frame is a
    // narrow (key, doc_id) frame — still never SHUFFLED for the filter,
    // which is the property that matters at 100 TB (no per-key window,
    // no hot-key occurrence list in one task).
    //
    // Storage model (r13 VERDICT/ADVICE): this is the corpus-
    // proportional exploded table — ~shingles-per-doc × corpus rows of
    // 16 bytes, i.e. the largest transient frame in the dedup queries.
    // persist(MEMORY_AND_DISK) instead of localCheckpoint because (a) it
    // PRESERVES LINEAGE: on a real cluster an executor loss recomputes
    // the lost partitions (embarrassingly parallel scan+md5) instead of
    // failing the job, which a truncated-lineage localCheckpoint would;
    // (b) blocks that exceed executor memory spill to local disk as
    // serialized columnar batches rather than pinning the corpus in
    // memory; (c) it is lazy, so the hot-set broadcast build is the
    // materializing pass — no extra eager copy job. Consumers read the
    // single cached copy; callers do NOT additionally cache the filtered
    // output (the anti-join probe over this cache is a scan + broadcast
    // hash probe — cheaper than storing the corpus twice).
    val mat = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = mat.groupBy(key).count()
      .filter(col("count") > MAX_SHINGLE_DF).select(key)
    mat.join(broadcast(hot), Seq(key), "left_anti")
  }

  private val shingleCte =
    s"""sh AS (
       |  SELECT doc_id, ${h60Sql("shingle")} AS sh
       |  FROM (SELECT doc_id, unnest(${wordShinglesSql("text")}) AS shingle FROM reps)
       |)""".stripMargin

  /** Word-3-gram Jaccard near-duplicate pairs (threshold 0.8) over
    * distinct-text representatives ([[collapseExact]]).
    * Candidates = pairs sharing >=1 non-stop shingle (equality join on
    * the doc-frequency-capped shingle table — see [[MAX_SHINGLE_DF]]),
    * then exact Jaccard from the capped distinct-shingle counts.
    */
  def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // df cap via dropHotKeys: a count window partitioned by sh would
    // materialize EVERY occurrence of a hot shingle in one window task
    // BEFORE the cap filter could drop it — a million-doc boilerplate
    // phrase becomes a single-task straggler (the r10 verdict's scale
    // finding). The map-side-combinable count + broadcast anti-join
    // never shuffles the exploded table; the oracle keeps the
    // equivalent HAVING formulation, so hashes cannot move.
    val sh = dropHotKeys(
      shingleTable(collapseExact(Tables.documents(s, dir))), "sh")
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val shared = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.select(col("doc_id").as("doc_a"), col("cnt").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("cnt").as("cb")), Seq("doc_b"))
      .withColumn("jaccard", col("shared").cast("double") / (col("ca") + col("cb") - col("shared")))
      .filter(col("jaccard") >= JACCARD_T)
      .select(col("doc_a"), col("doc_b"), col("shared"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val oracleNgramJaccard: String =
    s"""WITH $repsCte,
       |${shingleCte.replace("sh AS (", "sh0 AS (")},
       |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $MAX_SHINGLE_DF),
       |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
       |cnt AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared, round(shared * 1.0 / (ca.cnt + cb.cnt - shared), 6) AS jaccard
       |FROM shared JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE shared * 1.0 / (ca.cnt + cb.cnt - shared) >= $JACCARD_T
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------------- containment
  private[graft] val CONT_T = 0.6

  /** Asymmetric n-gram CONTAINMENT (`q_text_containment`): |A∩B| / |A|
    * per direction — the quotation/subset detector Jaccard misses (a
    * paragraph quoted inside a much longer doc has tiny Jaccard but
    * containment ≈ 1 in one direction). Same candidate machinery as
    * [[qDedupNgramJaccard]] (df-capped shared-shingle equality join over
    * exact-dup representatives — never all-pairs), different final
    * algebra: both directed scores from the one undirected candidate
    * row, a direction verdict, and a max-containment keep threshold.
    * Ratios are exact-int divisions rounded 6dp — engine-identical.
    */
  def qTextContainment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))

  /** The containment pair generator over any (doc_id, text) frame —
    * shared with the spec's synthetic subset-corpus check. */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    val sh = dropHotKeys(shingleTable(collapseExact(docs)), "sh")
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val shared = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    val contA = col("shared").cast("double") / col("ca")
    val contB = col("shared").cast("double") / col("cb")
    shared
      .join(cnt.select(col("doc_id").as("doc_a"), col("cnt").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("cnt").as("cb")), Seq("doc_b"))
      .filter(greatest(contA, contB) >= CONT_T)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(contA, 6).as("cont_a"), round(contB, 6).as("cont_b"),
        when(contA >= CONT_T && contB >= CONT_T, "mutual")
          .when(contA >= CONT_T, "a_in_b")
          .otherwise("b_in_a").as("direction"))
      .orderBy("doc_a", "doc_b")
  }

  val oracleTextContainment: String =
    s"""WITH $repsCte,
       |${shingleCte.replace("sh AS (", "sh0 AS (")},
       |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $MAX_SHINGLE_DF),
       |sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
       |cnt AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_a, doc_b, shared,
       |    shared::DOUBLE / ca.cnt AS ra, shared::DOUBLE / cb.cnt AS rb
       |  FROM shared JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b)
       |SELECT doc_a, doc_b, shared,
       |  round(ra, 6) AS cont_a, round(rb, 6) AS cont_b,
       |  CASE WHEN ra >= $CONT_T AND rb >= $CONT_T THEN 'mutual'
       |       WHEN ra >= $CONT_T THEN 'a_in_b' ELSE 'b_in_a' END AS direction
       |FROM sc WHERE greatest(ra, rb) >= $CONT_T
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ winnowing
  /** Winnow-overlap near-duplicate pairs (`q_dedup_winnow`): candidate
    * generation over WINNOWED fingerprints instead of full shingle
    * sets — the position-robust MOSS fingerprints keep only ~2/(w+1)
    * of the gram hashes (TextAnalysis.winnowFromGrams), so the
    * exploded (doc, fp) table this joins on is ~3× smaller than the
    * jaccard query's shingle table for the same detection guarantee
    * on runs ≥ WIN_W+WIN_K-1 words. Same scale shape as
    * [[qDedupNgramJaccard]]: df-capped equality join on the 8-byte
    * fingerprint, overlap coefficient (shared / min(|A|,|B|)) scored
    * from the capped counts.
    */
  private val WINNOW_T = 0.5

  def qDedupWinnow(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val fp0 = collapseExact(Tables.documents(s, dir))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("gh", TA.gramHashes(col("w"), TA.WIN_K))
      .select(col("doc_id"), explode(TA.winnowFromGrams(col("gh"), TA.WIN_W)).as("fp"))
    val fp = dropHotKeys(fp0, "fp")
    val cnt = fp.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = fp.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fp.select(col("doc_id").as("doc_b"), col("fp"))
    val shared = a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    shared
      .join(cnt.select(col("doc_id").as("doc_a"), col("cnt").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("cnt").as("cb")), Seq("doc_b"))
      .withColumn("overlap", col("shared").cast("double") / least(col("ca"), col("cb")))
      .filter(col("overlap") >= WINNOW_T)
      .select(col("doc_a"), col("doc_b"), col("shared"), round(col("overlap"), 6).as("overlap"))
      .orderBy("doc_a", "doc_b")
  }

  val oracleWinnow: String = {
    import graft.operators.{TextAnalysis => TA}
    val gh = TA.gramHashesSql("w", TA.WIN_K)
    val fps = TA.winnowSql("gh", TA.WIN_W)
    s"""WITH $repsCte,
       |wdoc AS (SELECT doc_id, string_split(text, ' ') AS w FROM reps),
       |g AS (SELECT doc_id, $gh AS gh FROM wdoc),
       |f0 AS (SELECT doc_id, unnest($fps) AS fp FROM g),
       |keep AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= $MAX_SHINGLE_DF),
       |f AS (SELECT f0.* FROM f0 JOIN keep USING (fp)),
       |cnt AS (SELECT doc_id, count(*) AS cnt FROM f GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared,
       |  round(shared * 1.0 / least(ca.cnt, cb.cnt), 6) AS overlap
       |FROM shared JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE shared * 1.0 / least(ca.cnt, cb.cnt) >= $WINNOW_T
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------- minhash lsh
  /** Minhash universe prime (2^31 - 1) and per-hash affine coefficients.
    * One md5 per shingle occurrence (h60 → mod P), then K cheap affine
    * universal hashes h_i(x) = (a_i·x + b_i) mod P — the standard trick
    * that replaced the naive K-md5s-per-shingle design (12× the digest
    * cost for no statistical gain; at 100 TB hashing IS the dedup bill).
    * Products stay < 2^62, so the arithmetic is exact in both engines.
    */
  private val MH_P = 2147483647L
  private def mhA(i: Int): Long = math.abs(h60Local(s"mh:a:$i")) % (MH_P - 1) + 1
  private def mhB(i: Int): Long = math.abs(h60Local(s"mh:b:$i")) % MH_P

  /** MinHash signature frame: doc_id, mh0..mh11 (affine hashes over the
    * shingle table's precomputed h60 — zero digests in this pass). */
  private[graft] def minhashSignatures(sh: DataFrame): DataFrame = {
    val h = col("sh") % MH_P
    val aggs = (0 until MINHASH_K).map(i =>
      min((h * mhA(i) + mhB(i)) % MH_P).as(s"mh$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Stateless K-minhash signature (array<long>, length [[MINHASH_K]])
    * from a MATERIALIZED h60-shingle array column — identical arithmetic
    * to [[minhashSignatures]]'s min-aggregates, folded per row instead of
    * aggregated over exploded rows. This is the streaming twin's
    * projection form: a stream computes each arriving document's whole
    * signature in one codegen'd expression, no shuffle, no aggregate
    * state. Callers must pass an attribute, not an inline expression
    * (HOF lambdas get no subexpression elimination — see
    * [[graft.functions.HashFns.shinglesFromWords]]).
    */
  private[graft] def minhashSigArray(shs: Column): Column =
    array((0 until MINHASH_K).map(i =>
      array_min(transform(shs, x => (x % MH_P * mhA(i) + mhB(i)) % MH_P))): _*)

  /** Banding geometry shared with the streaming twin. */
  private[graft] val minhashK: Int = MINHASH_K
  private[graft] val minhashBands: Int = BANDS

  /** LSH band-equality candidate pairs (doc_a < doc_b) from a signature
    * frame. Bucket population is bounded by distinct texts when callers
    * feed [[collapseExact]]-ed docs — the k²-per-duplicate-cluster
    * blowup is structurally impossible here, which DedupScaleSpec proves
    * with an injected 1,000-copy cluster.
    */
  /** (doc_id, band, h1, h2) LSH band frame of a signature frame — the
    * self-join side of [[minhashBandCandidates]] and the cross-side
    * probe index of [[qDedupIncremental]]. */
  private[graft] def bandFrame(sig: DataFrame): DataFrame = {
    val bandCols = (0 until BANDS).map { b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("h1"), col(s"mh${2 * b + 1}").as("h2"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.h1").as("h1"), col("b.h2").as("h2"))
  }

  private[graft] def minhashBandCandidates(sig: DataFrame): DataFrame = {
    val bands = bandFrame(sig)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private val sigCte: String = {
    val h = s"(sh % $MH_P)"
    val cols = (0 until MINHASH_K).map(i =>
      s"min(($h * ${mhA(i)} + ${mhB(i)}) % $MH_P) AS mh$i").mkString(", ")
    s"sig AS (SELECT doc_id, $cols FROM sh GROUP BY doc_id)"
  }

  /** MinHash + LSH banding near-dup pairs over distinct-text
    * representatives ([[collapseExact]] — exact copies never reach the
    * band join, so no bucket can exceed distinct-text cardinality).
    * Bands of 2 rows; candidates agree on a whole band (plain integer
    * equality on the two minhashes — no digest needed for the band key);
    * estimated Jaccard = fraction of equal minhashes; keep est >= 0.5.
    * `copies_a`/`copies_b` carry each side's exact-dup cluster size, so
    * member-level pairs remain derivable without materializing them.
    */
  /** Rep-level near-dup pairs (doc_a, doc_b, est_jaccard >= 0.5) — the
    * shared edge generator for [[qDedupMinhashLsh]] and
    * [[qDedupClusters]]. */
  private def minhashPairs(sig: DataFrame): DataFrame = {
    val eq = (0 until MINHASH_K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0)).reduce(_ + _)
    minhashBandCandidates(sig)
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), round(eq.cast("double") / MINHASH_K, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  def qDedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val reps = collapseExact(Tables.documents(s, dir)).cache()
    val sig = minhashSignatures(shingleTable(reps)).cache()
    minhashPairs(sig)
      .join(reps.select(col("doc_id").as("doc_a"), col("copies").as("copies_a")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"), col("copies").as("copies_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("copies_a"), col("copies_b"))
      .orderBy("doc_a", "doc_b")
  }

  // ----------------------------------------------- incremental dedup probe

  /** Batch residue: every [[INC_MOD]]th doc plays the NEW-ARRIVALS batch
    * against the rest-of-corpus index. */
  private[graft] val INC_MOD = 5

  /** Incremental (batch-vs-corpus) dedup probe (`q_dedup_incremental`) —
    * the nightly-ingest shape the whole-corpus passes don't cover: a NEW
    * batch must be checked against the EXISTING corpus without
    * re-deduping the corpus against itself. Two probes, exact first:
    * the batch's text digests against the corpus digest index, then the
    * batch's LSH bands against the corpus BAND INDEX (both indexes are
    * exactly what a production pipeline persists nightly — this query
    * rebuilds them in-plan because the driver corpus is small). Each
    * flagged batch doc reports its best corpus match
    * (exact precedence; near = highest est_jaccard ≥ 0.5, ties to the
    * lowest match id).
    *
    * Scale shape: candidates come ONLY from cross-side equality joins
    * (digest, band) — batch×corpus pairs never materialize; within-batch
    * and within-corpus pairs are excluded by the residue split at the
    * band join, so the corpus is never re-deduped; the best-match
    * window partitions by batch doc (bounded by its candidate count).
    */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame =
    incrementalProbe(Tables.documents(s, dir))

  private[graft] def incrementalProbe(docs: DataFrame): DataFrame = {
    val isNew = col("doc_id") % INC_MOD === 0
    val h = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val cIdx = h.filter(!isNew).groupBy("h").agg(min("doc_id").as("match_id"))
    val exact = h.filter(isNew).join(cIdx, "h")
      .select(col("doc_id"), col("match_id"),
        lit("exact").as("verdict"), lit(1.0).as("est_jaccard"))
    val sig = minhashSignatures(shingleTable(docs)).cache()
    val bands = bandFrame(sig)
    val cand = bands.filter(isNew).as("x")
      .join(bands.filter(!isNew).as("y"),
        col("x.band") === col("y.band") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("match_id"))
      .distinct()
    val eq = (0 until MINHASH_K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0)).reduce(_ + _)
    val near = cand.as("c")
      .join(sig.as("a"), col("c.doc_id") === col("a.doc_id"))
      .join(sig.as("b"), col("c.match_id") === col("b.doc_id"))
      .select(col("c.doc_id").as("doc_id"), col("c.match_id").as("match_id"),
        round(eq.cast("double") / MINHASH_K, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
    val bestW = Window.partitionBy("doc_id")
      .orderBy(desc("est_jaccard"), col("match_id"))
    val nearBest = near.withColumn("rn", row_number().over(bestW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("match_id"),
        lit("near").as("verdict"), col("est_jaccard"))
    exact
      .unionByName(nearBest.join(exact.select("doc_id"), Seq("doc_id"), "left_anti"))
      .orderBy("doc_id")
  }

  val oracleDedupIncremental: String = {
    val bandsSql = (0 until BANDS).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} AS h1, mh${2 * b + 1} AS h2 FROM sig")
      .mkString("\nUNION ALL\n")
    val eqSql = (0 until MINHASH_K).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, ${h60Sql("shingle")} AS sh
       |  FROM (SELECT doc_id, unnest(${wordShinglesSql("text")}) AS shingle FROM documents)),
       |$sigCte,
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS match_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.h1 = y.h1 AND x.h2 = y.h2
       |  WHERE x.doc_id % $INC_MOD = 0 AND y.doc_id % $INC_MOD <> 0),
       |near AS (
       |  SELECT c.doc_id, c.match_id,
       |    round(($eqSql) / ${MINHASH_K}.0, 6) AS est_jaccard
       |  FROM cand c JOIN sig a ON c.doc_id = a.doc_id
       |              JOIN sig b ON c.match_id = b.doc_id),
       |best AS (
       |  SELECT doc_id, match_id, est_jaccard,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY est_jaccard DESC, match_id) AS rn
       |  FROM near WHERE est_jaccard >= 0.5),
       |cidx AS (
       |  SELECT md5(text) AS h, min(doc_id) AS match_id
       |  FROM documents WHERE doc_id % $INC_MOD <> 0 GROUP BY 1),
       |ex AS (
       |  SELECT d.doc_id, c.match_id, 'exact' AS verdict, 1.0 AS est_jaccard
       |  FROM documents d JOIN cidx c ON md5(d.text) = c.h
       |  WHERE d.doc_id % $INC_MOD = 0)
       |SELECT * FROM ex
       |UNION ALL
       |SELECT doc_id, match_id, 'near' AS verdict, est_jaccard
       |FROM best WHERE rn = 1 AND doc_id NOT IN (SELECT doc_id FROM ex)
       |ORDER BY doc_id""".stripMargin
  }

  private[graft] val EDIT_T = 0.8

  /** Edit-distance VERIFICATION of LSH candidates (`q_dedup_editdist`) —
    * the NeMo-Curator-style two-stage recipe: cheap MinHash banding
    * proposes, expensive character-level Levenshtein confirms. The
    * O(len²) DP runs ONLY on the LSH-bounded candidate pairs (never
    * all-pairs — at 100 TB the candidate count is the banding recall
    * knob, not a quadratic), with texts joined back by doc_id so the
    * band shuffle itself never carries document bodies. edit_sim =
    * 1 − lev/max(len); both engines implement unit-cost Levenshtein.
    */
  def qDedupEditdist(s: SparkSession, dir: String): DataFrame = {
    val reps = collapseExact(Tables.documents(s, dir)).cache()
    val sig = minhashSignatures(shingleTable(reps)).cache()
    minhashPairs(sig)
      .join(reps.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(lit(1.0) - levenshtein(col("text_a"), col("text_b")).cast("double") /
          greatest(length(col("text_a")), length(col("text_b"))), 6).as("edit_sim"))
      .withColumn("is_dup", (col("edit_sim") >= EDIT_T).cast("int"))
      .orderBy("doc_a", "doc_b")
  }

  // def, not val: minhashPairsCtes is declared below (object-init order)
  def oracleDedupEditdist: String =
    s"""WITH $minhashPairsCtes
       |SELECT p.doc_a, p.doc_b, p.est_jaccard,
       |  round(1.0 - levenshtein(a.text, b.text)::DOUBLE
       |    / greatest(length(a.text), length(b.text)), 6) AS edit_sim,
       |  CAST(round(1.0 - levenshtein(a.text, b.text)::DOUBLE
       |    / greatest(length(a.text), length(b.text)), 6) >= $EDIT_T AS INT) AS is_dup
       |FROM pairs p JOIN reps a ON a.doc_id = p.doc_a JOIN reps b ON b.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Train/test SPLIT-LEAKAGE audit (`q_split_leakage`) — the
    * benchmark-contamination check a curation pipeline must run after
    * splitting: a near-dup pair straddling train and test leaks test
    * content into training (the in-corpus twin of `q_decontaminate`,
    * which guards against EXTERNAL eval sets). Two channels: exact-dup
    * clusters whose members land in >1 split (md5 groupBy +
    * distinct-split count) and near-dup rep pairs whose deterministic
    * h60 split assignments differ (the same `Pipeline.splitCol` rule
    * the curation plan applies, so the audit audits the REAL split).
    * Reuses the MinHash pair generator — no new candidate machinery;
    * the summary is a 1-row × 1-row bounded cross join.
    */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dsplit = docs.select(col("doc_id"), graft.operators.Pipeline.splitCol.as("split"))
    val exactLeaky = docs
      .select(md5(col("text")).as("h"), graft.operators.Pipeline.splitCol.as("split"))
      .groupBy("h").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("exact_leaky_clusters"))
    val reps = collapseExact(docs).cache()
    val sig = minhashSignatures(shingleTable(reps)).cache()
    val ps = minhashPairs(sig)
      .join(dsplit.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(dsplit.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
    ps.agg(count(lit(1)).as("near_pairs"),
        coalesce(sum((col("split_a") =!= col("split_b")).cast("long")), lit(0L)).as("near_leaked"))
      .crossJoin(broadcast(exactLeaky))
      .select(col("near_pairs"), col("near_leaked"), col("exact_leaky_clusters"))
  }

  // def, not val: minhashPairsCtes is declared below (object-init order)
  def oracleSplitLeakage: String = {
    val h = h60Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH $minhashPairsCtes,
       |dsplit AS (
       |  SELECT doc_id, CASE WHEN $h % 100 < 80 THEN 'train'
       |                      WHEN $h % 100 < 90 THEN 'val'
       |                      ELSE 'test' END AS split
       |  FROM documents),
       |ps AS (
       |  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
       |  FROM pairs p JOIN dsplit sa ON sa.doc_id = p.doc_a
       |               JOIN dsplit sb ON sb.doc_id = p.doc_b),
       |el AS (
       |  SELECT count(*) AS exact_leaky_clusters FROM (
       |    SELECT md5(text) AS h
       |    FROM documents d JOIN dsplit USING (doc_id)
       |    GROUP BY md5(text) HAVING count(DISTINCT split) > 1))
       |SELECT
       |  (SELECT count(*) FROM ps) AS near_pairs,
       |  (SELECT CAST(coalesce(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END), 0) AS BIGINT) FROM ps) AS near_leaked,
       |  el.exact_leaky_clusters
       |FROM el""".stripMargin
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, est_jaccard)` — the oracle
    * twin of [[minhashPairs]] over [[repsCte]]. */
  private val minhashPairsCtes: String = {
    val bandSel = (0 until BANDS).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} AS h1, mh${2 * b + 1} AS h2 FROM sig").mkString(" UNION ALL ")
    val eq = (0 until MINHASH_K).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""$repsCte,
       |$shingleCte,
       |$sigCte,
       |bands AS ($bandSel),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.h1 = y.h1 AND x.h2 = y.h2 AND x.doc_id < y.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b, round(($eq) / ${MINHASH_K}.0, 6) AS est_jaccard
       |  FROM cand JOIN sig a ON a.doc_id = doc_a JOIN sig b ON b.doc_id = doc_b
       |  WHERE ($eq) / ${MINHASH_K}.0 >= 0.5)""".stripMargin
  }

  val oracleMinhashLsh: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, est_jaccard,
       |  ra.copies AS copies_a, rb.copies AS copies_b
       |FROM pairs JOIN reps ra ON ra.doc_id = doc_a JOIN reps rb ON rb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------- minhash recall gauge
  /** Quality gauge for the MinHash-LSH near-dup pipeline — the dedup
    * twin of `q_knn_recall`: without it the (BANDS, rows-per-band,
    * est-threshold) knobs are untunable guesses. Ground truth = exact
    * shingle-set Jaccard over every pair sharing ≥1 shingle (UNCAPPED —
    * a pair with J > 0 must share a shingle, so the equality join IS
    * exhaustive; on a full 100 TB corpus this gauge runs over a sampled
    * stratum, which is exactly how the production knob-tuning loop
    * works). Reports recall (true pairs found), precision (reported
    * pairs that are true), and the mean |est − exact| Jaccard error of
    * the estimator itself. One row; every count also emitted raw so a
    * ratio regression is attributable.
    */
  def qDedupRecall(s: SparkSession, dir: String): DataFrame = {
    val reps = collapseExact(Tables.documents(s, dir)).cache()
    val sh = shingleTable(reps).cache()
    val est = minhashPairs(minhashSignatures(sh))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val exact = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("cnt").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("cnt").as("cb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("ca") + col("cb") - col("shared"))).as("j"))
    val truth = exact.filter(col("j") >= 0.5).select(col("doc_a"), col("doc_b"), col("j").as("jt"))
    val estx = est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        coalesce(col("j"), lit(0.0)).as("jx"))
    estx.join(truth, Seq("doc_a", "doc_b"), "full")
      .agg(
        count(col("jt")).as("n_true"),
        count(col("est_jaccard")).as("n_lsh"),
        count(when(col("est_jaccard").isNotNull && col("jt").isNotNull, 1)).as("n_hits"),
        round(avg(when(col("est_jaccard").isNotNull, abs(col("est_jaccard") - col("jx")))), 4)
          .as("mean_abs_err"))
      .select(col("n_true"), col("n_lsh"), col("n_hits"),
        round(col("n_hits") / col("n_true"), 4).as("recall"),
        round(col("n_hits") / col("n_lsh"), 4).as("precision"),
        col("mean_abs_err"))
  }

  val oracleDedupRecall: String =
    s"""WITH $minhashPairsCtes,
       |cnt AS (SELECT doc_id, count(*) AS cnt FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT doc_a, doc_b, shared * 1.0 / (ca.cnt + cb.cnt - shared) AS j
       |  FROM shared JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b),
       |truth AS (SELECT doc_a, doc_b, j AS jt FROM exact WHERE j >= 0.5),
       |estx AS (
       |  SELECT p.doc_a, p.doc_b, p.est_jaccard, coalesce(e.j, 0) AS jx
       |  FROM pairs p LEFT JOIN exact e USING (doc_a, doc_b)),
       |o AS (SELECT * FROM estx FULL JOIN truth USING (doc_a, doc_b)),
       |agg AS (
       |  SELECT count(jt) AS n_true, count(est_jaccard) AS n_lsh,
       |    count(CASE WHEN est_jaccard IS NOT NULL AND jt IS NOT NULL THEN 1 END) AS n_hits,
       |    round(avg(CASE WHEN est_jaccard IS NOT NULL THEN abs(est_jaccard - jx) END), 4) AS mean_abs_err
       |  FROM o)
       |SELECT n_true, n_lsh, n_hits,
       |  round(n_hits::DOUBLE / n_true, 4) AS recall,
       |  round(n_hits::DOUBLE / n_lsh, 4) AS precision,
       |  mean_abs_err
       |FROM agg""".stripMargin

  // ------------------------------------------------- dedup clusters (CC)
  /** Rounds the ORACLE unrolls for connected components (fixed CTE chain
    * — SQL can't express a data-dependent loop). The Spark side iterates
    * UNTIL CONVERGED (no label changed in a round, see [[ccLabels]]), so
    * its result is the true fixpoint regardless of chain length; min-label
    * propagation is monotone, so once both sides reach the fixpoint extra
    * oracle rounds are no-ops and parity holds. If a corpus ever produced
    * chains deeper than the oracle's unroll, the hash gate would go red —
    * the mismatch is detectable, not silent.
    */
  private[graft] val CC_ITERS = 3

  /** Safety cap on the Spark-side convergence loop. With the
    * pointer-doubling shortcut ([[ccLabelsWithRounds]]) rounds grow
    * O(log diameter), so 20 covers components of diameter ~10⁵ — a cap
    * hit means something pathological; we log and stop rather than loop
    * unbounded.
    */
  private[graft] val CC_MAX_ITERS = 20

  /** Near-duplicate CLUSTERS: pairs are not a dedup verdict — to keep
    * one document per near-dup group you need the connected components
    * of the pair graph. Edges = [[minhashPairs]] over distinct-text
    * representatives; components via CC_ITERS rounds of min-label
    * propagation, each round one equality join + one min-aggregate on
    * the (bounded) edge list — fully declarative, unrolled identically
    * in the oracle. Output: one row per cluster with its keeper (min
    * doc_id), distinct-text count, and total document count including
    * exact copies.
    */
  /** Min-label propagation WITH a pointer-doubling shortcut over an
    * undirected pair list (doc_a, doc_b) → (id, label) for every
    * endpoint, iterated UNTIL CONVERGED (no label changed in a round).
    * Each round: (1) propagate — every node takes the min of its own
    * and its neighbours' labels (one equality join + one min-agg);
    * (2) shortcut — every node then jumps to its label's label
    * (`label ← label(label)`, one self-join), the pointer-doubling step
    * that makes label distance roughly DOUBLE per round, so a chain of
    * diameter d converges in O(log d) rounds instead of O(d)
    * (CcConvergenceSpec measures it: a 64-node path resolves in ≤10
    * rounds where pure propagation needs 63). Shortcutting never
    * changes the fixpoint — labels only ever decrease toward the
    * component min. Convergence is checked with one tiny count per
    * round on the checkpointed result; the cap at [[CC_MAX_ITERS]]
    * (logged) is a pathology guard, not an expected exit.
    */
  private[graft] def ccLabels(pairs: DataFrame): DataFrame =
    ccLabelsWithRounds(pairs)._1

  /** Process-wide count of [[ccLabelsWithRounds]] executions — the
    * observability hook DedupShareSpec uses to prove the verdict
    * pipeline (shingle → MinHash → banding → iterative CC) runs ONCE
    * per (session, dir) however many consumers join its output. */
  private[graft] val ccRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[ccLabels]] plus the number of rounds it ran (spec hook). */
  private[graft] def ccLabelsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    ccRuns.incrementAndGet()
    // r14: cache the edge list PRE-PARTITIONED on the join key — every
    // round equality-joins edges on `dst`, and a plain cache re-shuffled
    // the (largest) edge frame once per round; the cached partitioning
    // satisfies the join's distribution, so rounds reuse it (guide §2.4:
    // operations keyed the same way share one exchange).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst"))
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var converged = false
    var rounds = 0
    while (!converged && rounds < CC_MAX_ITERS) {
      val nbrMin = edges.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("label").as("nl"))
      // checkpoint the PROPAGATE phase before the shortcut self-join
      // (r14, the q_hits phase discipline): lazily, `prop` appeared on
      // BOTH sides of the shortcut join and its whole subtree
      // (edges⨝labels + min-agg + left join) ran twice per round —
      // exchange reuse dedupes the shuffles but not the reduce-side
      // join/agg compute. Checkpointed, each phase runs exactly once.
      val prop = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      // localCheckpoint (eager) TRUNCATES lineage each round: `labels`
      // appears several times per round, so without truncation the
      // logical plan doubles per iteration — 2^rounds nodes — and
      // analysis/planning itself blows up long before the data does.
      // Standard move for iterative algorithms on Spark.
      val next = prop.as("c")
        .join(prop.select(col("id").as("pid"), col("label").as("plabel")).as("p"),
          col("c.label") === col("pid"), "left")
        .select(col("c.id").as("id"), col("c.prev").as("prev"),
          least(col("c.label"), coalesce(col("plabel"), col("c.label"))).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("prev")).isEmpty
      labels = next.select("id", "label")
      rounds += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ccLabels hit CC_MAX_ITERS=$CC_MAX_ITERS without converging; " +
          "component labels may be split")
    // `labels` descends only from the last round's checkpoint, so the
    // edge cache can be released here instead of leaking one cached
    // frame per invocation in long-lived sessions
    edges.unpersist()
    (labels, rounds)
  }

  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val reps = collapseExact(Tables.documents(s, dir)).cache()
    val sig = minhashSignatures(shingleTable(reps)).cache()
    ccLabels(minhashPairs(sig).cache())
      .join(reps.select(col("doc_id").as("id"), col("copies")), Seq("id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_texts"), sum("copies").as("n_docs"))
      .orderBy("cluster_id")
  }

  /** CTE chain `edges, l0..lCC_ITERS` — the oracle's unrolled min-label
    * propagation over `pairs` (shared by the clusters and verdict
    * oracles). */
  private val ccCtes: String = {
    val props = (1 to CC_ITERS).map { i =>
      s"""l$i AS (
         |  SELECT l.id, least(l.label, coalesce(min(x.label), l.label)) AS label
         |  FROM l${i - 1} l
         |  LEFT JOIN edges e ON e.src = l.id
         |  LEFT JOIN l${i - 1} x ON x.id = e.dst
         |  GROUP BY l.id, l.label)""".stripMargin
    }.mkString(",\n")
    s"""edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
       |$props""".stripMargin
  }

  val oracleClusters: String =
    s"""WITH $minhashPairsCtes,
       |$ccCtes
       |SELECT label AS cluster_id, count(*) AS n_texts, CAST(sum(copies) AS BIGINT) AS n_docs
       |FROM l$CC_ITERS l JOIN reps r ON r.doc_id = l.id
       |GROUP BY label ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------------- dedup verdict
  /** The dedup subsystem's END PRODUCT: one KEEP/DROP row per document.
    * Pairs, clusters and gauges are diagnostics; what a curation
    * pipeline actually applies is this verdict — for every doc_id, the
    * surviving keeper (exact-dup representative resolved through its
    * near-dup cluster's elected keeper) and the drop reason. Keep =
    * the doc IS its cluster's keeper; otherwise `exact_dup` (an exact
    * copy of a surviving or dropped representative) or `near_dup` (its
    * representative lost a near-dup election). Composition of
    * [[collapseExact]] + [[minhashPairs]] + [[ccLabels]] — two extra
    * equality joins over what `q_dedup_clusters` already computes.
    */
  def qDedupVerdict(s: SparkSession, dir: String): DataFrame =
    verdictShared(s, dir)

  /** The materialized verdict over `dir`, a [[SharedArtifacts]] entry:
    * `q_dedup_verdict`, `q_dedup_by_source`, `q_dedup_soft` (and any
    * future consumer) read the same frame, so the shingle → MinHash →
    * banding → iterative-CC chain executes once per corpus
    * (DedupShareSpec pins this via [[ccRuns]]). Cached and counted, not
    * checkpointed: the analyzed plan keeps the `documents` scan, which
    * the consumers' lineage records name as their input. */
  private def verdictShared(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts(s, "dedup_verdict", dir, "documents") {
      val v = computeVerdict(s, dir).cache()
      v.count() // materialize eagerly so every consumer reads, never builds
      v
    }

  private def computeVerdict(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val reps = collapseExact(docs).cache()
    val sig = minhashSignatures(shingleTable(reps)).cache()
    val labels = ccLabels(minhashPairs(sig).cache())
    val repKeeper = reps.select(col("doc_id").as("rep"))
      .join(labels.select(col("id").as("rep"), col("label")), Seq("rep"), "left")
      .select(col("rep"), coalesce(col("label"), col("rep")).as("keeper"))
    val repByHash = docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("rep"))
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .join(repByHash, Seq("h"))
      .join(repKeeper, Seq("rep"))
      .select(
        col("doc_id"), col("keeper"),
        when(col("doc_id") === col("keeper"), 1L).otherwise(0L).as("keep"),
        when(col("doc_id") === col("keeper"), "keep")
          .when(col("doc_id") =!= col("rep"), "exact_dup")
          .otherwise("near_dup").as("reason"))
      .orderBy("doc_id")
  }

  val oracleDedupVerdict: String =
    s"""WITH $minhashPairsCtes,
       |$ccCtes,
       |repmap AS (SELECT md5(text) AS h, min(doc_id) AS rep FROM documents GROUP BY 1),
       |keepers AS (
       |  SELECT m.rep, coalesce(l.label, m.rep) AS keeper
       |  FROM (SELECT DISTINCT rep FROM repmap) m
       |  LEFT JOIN l$CC_ITERS l ON l.id = m.rep)
       |SELECT d.doc_id, k.keeper,
       |  CAST(CASE WHEN d.doc_id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS keep,
       |  CASE WHEN d.doc_id = k.keeper THEN 'keep'
       |       WHEN d.doc_id <> m.rep THEN 'exact_dup'
       |       ELSE 'near_dup' END AS reason
       |FROM documents d
       |JOIN repmap m ON md5(d.text) = m.h
       |JOIN keepers k ON k.rep = m.rep
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------------ lsh tuning
  /** Banding geometries the sweep measures: every (bands, rows/band)
    * factorization of the [[MINHASH_K]]-hash signature. */
  private[graft] val LSH_CONFIGS: Seq[(Int, Int)] =
    Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

  /** LSH banding-geometry sweep (`q_lsh_tune`) — the b×r dial for
    * [[qDedupMinhashLsh]], measured instead of guessed: for every
    * factorization of the 12-hash signature, the candidate-pair count
    * the banding emits, how many of those survive the est-Jaccard ≥ 0.5
    * verify, and the S-curve 50 % threshold t50 = (1/b)^(1/r) — the
    * Jaccard level at which a pair has even odds of colliding. Wide
    * bands (r=12) catch only near-identical signatures; single-row
    * bands (r=1) cast the widest net and pay the largest verify bill.
    * This is [[qKnnNprobe]]'s recall/cost curve translated to the
    * MinHash family.
    *
    * Scale shape: ONE signature pass (shingle → 12 min-aggregates over
    * collapsed reps, cached), then per-geometry band-equality joins —
    * each the standard LSH candidate join, bucket-bounded by distinct
    * texts; the verify joins touch only candidate rows. t50 is a
    * driver-computed literal injected VERBATIM into both engines, so
    * pow() ulp drift cannot appear.
    */
  def qLshTune(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(
      shingleTable(collapseExact(Tables.documents(s, dir)))).cache()
    val eq = (0 until MINHASH_K).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0)).reduce(_ + _)
    val perCfg = LSH_CONFIGS.map { case (b, r) =>
      val bandCols = (0 until b).map { j =>
        struct(lit(j).as("band"),
          array((0 until r).map(k => col(s"mh${j * r + k}")): _*).as("key"))
      }
      val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
        .select(col("doc_id"), col("bd.band").as("band"), col("bd.key").as("key"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
        .select(when(eq >= MINHASH_K / 2.0, 1L).otherwise(0L).as("kept"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(col("kept")), lit(0L)).as("n_kept"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"), col("n_kept"), lit(t50(b, r)).as("t50"))
    }
    perCfg.reduce(_.unionByName(_)).orderBy("bands")
  }

  /** (1/b)^(1/r) at 6dp, as the identical string literal both engines
    * parse — never computed in-engine. */
  private def t50(b: Int, r: Int): Double =
    BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  val oracleLshTune: String = {
    val eqSql = (0 until MINHASH_K).map(i =>
      s"CASE WHEN a.mh$i = c.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    val cfgs = LSH_CONFIGS.map { case (b, r) =>
      val bandSel = (0 until b).map { j =>
        val key = (0 until r).map(k => s"mh${j * r + k}").mkString("[", ", ", "]")
        s"SELECT doc_id, $j AS band, $key AS key FROM sig"
      }.mkString(" UNION ALL ")
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  count(*) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN ($eqSql) >= ${MINHASH_K / 2.0} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
         |  CAST(${t50(b, r)} AS DOUBLE) AS t50
         |FROM (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM ($bandSel) x JOIN ($bandSel) y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id) p
         |JOIN sig a ON p.doc_a = a.doc_id
         |JOIN sig c ON p.doc_b = c.doc_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $repsCte,
       |$shingleCte,
       |$sigCte
       |$cfgs
       |ORDER BY bands""".stripMargin
  }

  // -------------------------------------------------------------- simhash
  /** (doc_id, simhash) over the given docs frame: bit i is set when at
    * least half the words have bit i set in h60(word). */
  private[graft] def simhashFrame(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", h60(col("w")))
    val bitSums = (0 until SIM_BITS).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1)).as(s"s$i"))
    val agg = words.groupBy("doc_id")
      .agg(bitSums.head, (bitSums.tail :+ count(lit(1)).as("n")): _*)
    val simhash = (0 until SIM_BITS).map(i =>
      when(col(s"s$i") * 2 >= col("n"), shiftleft(lit(1L), i)).otherwise(0L)).reduce(_ + _)
    agg.select(col("doc_id"), simhash.as("simhash"))
  }

  /** 60-bit SimHash per document (full member-level listing). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashFrame(Tables.documents(s, dir)).orderBy("doc_id")

  private def simhashCtes(src: String): String = {
    val sums = (0 until SIM_BITS).map(i => s"sum((h >> $i) & 1) AS s$i").mkString(", ")
    val assemble = (0 until SIM_BITS).map(i =>
      s"CASE WHEN s$i * 2 >= n THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    s"""words AS (
       |  SELECT doc_id, ${h60Sql("unnest(string_split(text, ' '))")} AS h FROM $src),
       |bitsums AS (SELECT doc_id, $sums, count(*) AS n FROM words GROUP BY doc_id),
       |simhashes AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bitsums)""".stripMargin
  }

  val oracleSimhash: String =
    s"WITH ${simhashCtes("documents")} SELECT doc_id, simhash FROM simhashes ORDER BY doc_id"

  /** Band-equality candidate pairs (doc_a, doc_b, hamming) from a
    * (doc_id, simhash) frame: 4 bands of 15 bits — any pair at hamming
    * distance <= 3 must share a band (pigeonhole). Feed
    * [[collapseExact]]-ed docs: identical texts have identical simhashes
    * (sharing ALL bands), so raw-doc banding pays k² per duplicate
    * cluster.
    */
  private[graft] def simhashBandCandidates(sh: DataFrame): DataFrame = {
    val bandCols = (0 until SIM_BANDS).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7fffL).as("bv")))
    val bands = sh.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
  }

  /** SimHash near-dup pairs over distinct-text representatives, verified
    * by bit_count; `copies_*` carry exact-cluster sizes (see
    * [[qDedupMinhashLsh]] for the collapse rationale). */
  def qDedupSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val reps = collapseExact(Tables.documents(s, dir)).cache()
    simhashBandCandidates(simhashFrame(reps))
      .filter(col("hamming") <= 3)
      .join(reps.select(col("doc_id").as("doc_a"), col("copies").as("copies_a")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"), col("copies").as("copies_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("copies_a"), col("copies_b"))
      .orderBy("doc_a", "doc_b")
  }

  val oracleSimhashPairs: String = {
    val bandSel = (0 until SIM_BANDS).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS bv FROM simhashes")
      .mkString(" UNION ALL ")
    s"""WITH $repsCte,
       |${simhashCtes("reps")},
       |bands AS ($bandSel),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming, ra.copies AS copies_a, rb.copies AS copies_b
       |FROM cand JOIN reps ra ON ra.doc_id = doc_a JOIN reps rb ON rb.doc_id = doc_b
       |WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------- embedding near-dup
  /** Embedding-cosine near-duplicate detection: approximate nearest
    * neighbor per vector over LSH-banded candidates (see
    * [[Similarity.lshCandidates]]). The earlier design bucketed on the
    * `label` column — all-pairs in disguise once labels are few at scale;
    * LSH band buckets (2^BITS per band, BITS being the scale knob) bound
    * quadratic work by construction. Vectors whose bands collide with no
    * other vector emit no row — the documented ANN-dedup semantics.
    */
  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    // duplicate-collapsed candidate generation (Similarity.lshTopK):
    // verbatim-copy groups would otherwise emit m² band pairs each
    Similarity.lshTopK(s, dir, 1)
      .select(col("vec_id"), col("cand_id").as("nn_id"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_id")

  val oracleEmbedding: String =
    s"""WITH ${Similarity.lshCandidatesSql},
       |ranked AS (
       |  SELECT vec_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rn
       |  FROM cand)
       |SELECT vec_id, cand_id AS nn_id, round(cos, 6) AS cos
       |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ decontamination
  /** Gram length for decontamination. Near-dup uses 3-grams; benchmark
    * decontamination needs LONGER grams — measured on this corpus, a
    * shared 3-gram flags 392/480 train docs (common phrases, useless),
    * a shared 5-gram flags exactly the genuine near-duplicates. Real
    * pipelines use 8–13-gram overlap (docs here are ~80 words, so 5
    * keeps the gauge non-vacuous); the plan is n-independent. */
  private[graft] val DECON_N   = 5
  /** Eval-set selector: doc_id % DECON_MOD == 3 stands in for the
    * held-out benchmark corpus (20 docs at sf0.01). */
  private[graft] val DECON_MOD = 25

  /** Benchmark decontamination: flag training documents sharing any
    * DECON_N-word gram with the (small) eval set. The scale shape is
    * the whole point: eval benchmarks are tiny (MBs) next to a 100 TB
    * corpus, so the eval side's distinct hashed grams are BROADCAST and
    * the corpus never shuffles for the probe — each train doc explodes
    * its grams, probes the broadcast hash set, and only MATCHED rows
    * (rare) reach the per-doc count's shuffle. Grams leave the scan as
    * 8-byte h60 keys, not strings. Output: one row per contaminated
    * train doc with its distinct shared-gram count.
    */
  /** (doc_id, sh) hashed DECON_N-gram stream for a docs frame, words
    * materialized before the gram lambda (see shinglesFromWords). */
  private def deconGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(shinglesFromWords(col("w"), DECON_N)).as("g"))
      .select(col("doc_id"), h60(col("g")).as("sh"))

  private[graft] def decontaminate(docs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % DECON_MOD === 3
    val evalSh = broadcast(deconGrams(docs.filter(isEval)).select("sh").distinct())
    deconGrams(docs.filter(!isEval))
      .join(evalSh, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(s, dir))

  /** Bloom-prefiltered decontamination — same RESULT as [[decontaminate]]
    * (hence the same oracle), different scale regime: [[decontaminate]]
    * broadcasts the raw eval gram set, which stops working when the eval
    * suite grows past broadcast size. Here the eval grams collapse into
    * ONE bloom filter (`graft_bloom_agg`, bits not values — ~9.6 bits/key
    * at 1% fp), the fact-side gram stream is pre-filtered by a broadcast
    * membership probe (`graft_bloom_contains`, fused into the scan
    * projection), and only the surviving fraction shuffles into the
    * exact equality join that removes bloom false positives. False
    * negatives are impossible, so result == exact; the shuffle bill
    * drops from |corpus grams| to |matches + fp|. This is Spark's own
    * AQE runtime-filter mechanism, surfaced as a declarative operator.
    */
  private[graft] def decontaminateBloom(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.BloomFns.register(s)
    val isEval = col("doc_id") % DECON_MOD === 3
    // `might_contain` requires its bloom input as a constant or SCALAR
    // SUBQUERY (the same way Spark's AQE runtime filters inject theirs),
    // so the probe is phrased in SQL: the subquery executes once and its
    // binary result is injected into the fact-side filter as a literal.
    deconGrams(docs.filter(isEval)).select("sh").distinct()
      .createOrReplaceTempView("graft_bloom_eval_sh")
    deconGrams(docs.filter(!isEval))
      .createOrReplaceTempView("graft_bloom_train_sh")
    s.sql(
      s"""SELECT doc_id, count(*) AS n_shared
         |FROM (SELECT doc_id, sh FROM graft_bloom_train_sh
         |      WHERE graft_bloom_contains(
         |        (SELECT graft_bloom_agg(sh) FROM graft_bloom_eval_sh), sh)) t
         |JOIN graft_bloom_eval_sh e USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  def qBloomDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateBloom(s, Tables.documents(s, dir))

  /** Broadcast budget for the raw eval gram set, in grams: 8-byte h60
    * keys plus hash-set overhead ≈ 10 MB at this count — the same order
    * as `spark.sql.autoBroadcastJoinThreshold`'s default. Above it the
    * bloom regime wins (bits per key instead of a key per key). */
  private[graft] val DECON_BROADCAST_MAX_GRAMS = 1000000L

  /** Size-derived regime switch between [[decontaminate]] (broadcast the
    * raw eval grams) and [[decontaminateBloom]] (collapse them into a
    * bloom prefilter): MEASURE the eval side's distinct gram count, then
    * pick. The measurement is one count over the eval stratum only —
    * eval benchmarks are MBs next to a 100 TB corpus, so the probe costs
    * O(eval) and the corpus-side plan is chosen before a single corpus
    * byte moves. Both regimes return identical results (bloom false
    * negatives are impossible and the exact join removes false
    * positives), so the switch changes the plan, never the answer.
    */
  def decontaminateAuto(s: SparkSession, docs: DataFrame,
      maxBroadcastGrams: Long = DECON_BROADCAST_MAX_GRAMS): DataFrame = {
    val isEval = col("doc_id") % DECON_MOD === 3
    val evalGrams = deconGrams(docs.filter(isEval)).select("sh").distinct().count()
    if (evalGrams <= maxBroadcastGrams) decontaminate(docs)
    else decontaminateBloom(s, docs)
  }

  def qDecontaminateAuto(s: SparkSession, dir: String): DataFrame =
    decontaminateAuto(s, Tables.documents(s, dir))

  val oracleDecontaminate: String = {
    val grams = wordShinglesNSql("text", DECON_N)
    s"""WITH ev AS (
       |  SELECT DISTINCT ${h60Sql("g")} AS sh
       |  FROM (SELECT unnest($grams) AS g FROM documents WHERE doc_id % $DECON_MOD = 3)),
       |tr AS (
       |  SELECT doc_id, ${h60Sql("g")} AS sh
       |  FROM (SELECT doc_id, unnest($grams) AS g FROM documents WHERE doc_id % $DECON_MOD <> 3))
       |SELECT doc_id, count(*) AS n_shared
       |FROM tr JOIN ev USING (sh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ cross-source overlap

  /** Cross-source contamination matrix (`q_source_overlap`) — which
    * acquisition sources carry each other's text. For every source
    * pair: the number of distinct shared [[DECON_N]]-word grams and
    * the gram-set Jaccard — the report that catches one crawl
    * re-ingesting another (or a mirror) before dedup quietly eats the
    * double-counted tokens.
    *
    * Scale shape: ONE shuffle. The hashed gram stream aggregates
    * straight into per-gram source SETS (map-side-combinable
    * collect_set, bounded by the source enum — a gram in a million
    * docs still carries ≤|sources| entries), pairs explode from each
    * set's sorted array (≤ C(|sources|,2) rows per gram, corpus-
    * independent), and the per-source gram totals reduce from the
    * same frame. No gram-stream self-join, no distinct pre-pass.
    */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val bySh = Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(shinglesFromWords(col("w"), DECON_N)).as("gr"))
      .select(h60(col("gr")).as("sh"), col("source"))
      .groupBy("sh").agg(sort_array(collect_set("source")).as("ss"))
      .cache()
    val sizes = bySh.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = bySh.filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))), b =>
          struct(a.as("sa"), b.as("sb")))))).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))),
        "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared") / (col("na") + col("nb") - col("shared")), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** The oracle phrases the same matrix as a distinct-gram self-join —
    * row-identical because each per-gram sorted source set enumerates
    * exactly the a < b pairs the join's inequality keeps. */
  val oracleSourceOverlap: String = {
    val grams = wordShinglesNSql("text", DECON_N)
    s"""WITH g AS (
       |  SELECT DISTINCT source, ${h60Sql("g")} AS sh
       |  FROM (SELECT source, unnest($grams) AS g FROM documents)),
       |sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
       |  FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, shared,
       |  round(shared / (na.n + nb.n - shared), 6) AS jaccard
       |FROM p JOIN sizes na ON na.source = p.source_a
       |       JOIN sizes nb ON nb.source = p.source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ------------------------------------------------- duplication by source

  /** Duplication rate per SOURCE (`q_dedup_by_source`) — the curation
    * answer dedup feeds back to acquisition: which sources contribute
    * mostly redundant documents. Rolls the FULL dedup verdict
    * ([[qDedupVerdict]]: exact collapse + MinHash near-dup clusters +
    * keep-first) up by the duplicate's OWN source — one extra
    * broadcast-sized join and a per-source aggregate on top of the
    * verdict plan. (Exact-only attribution would be vacuous here: the
    * driver corpus has no byte-identical copies, only near-dups.)
    */
  def qDedupBySource(s: SparkSession, dir: String): DataFrame = {
    val verdict = qDedupVerdict(s, dir).select(col("doc_id"), col("keep"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(verdict, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(lit(1L) - col("keep")).as("n_dropped"))
      .withColumn("drop_rate", round(col("n_dropped") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** `def`, not `val`: interpolates [[oracleDedupVerdict]], which is
    * declared later in this object (object vals initialize in
    * declaration order — the r6 PQ lesson). */
  def oracleDedupBySource: String =
    s"""WITH v AS ($oracleDedupVerdict)
       |SELECT d.source, count(*) AS n_docs,
       | CAST(sum(1 - v.keep) AS BIGINT) AS n_dropped,
       | round(sum(1 - v.keep) * 1.0 / count(*), 6) AS drop_rate
       |FROM v JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Soft dedup (`q_dedup_soft`): instead of DROPPING duplicates, weight
    * every document 1/N where N is its dedup-group size (exact copies
    * plus near-dup cluster members, i.e. docs sharing a verdict keeper)
    * — each duplicated text contributes ONE document's worth of
    * training mass however many times it recurs. Reports per source the
    * effective corpus size under the weighting and the shrink ratio;
    * the de-duplication-by-reweighting alternative a loss-weighting
    * trainer consumes.
    *
    * Scale shape: two equality joins and hash-aggs over what the
    * verdict already computes — group sizes are a map-side-combinable
    * count on the keeper key. The weight sum is pinned EXACTLY: 1/N is
    * 9dp-rounded, cast to DECIMAL(18,9), summed in exact decimal (any
    * order), and converted to double once — the q_attribution
    * float-sum-order discipline.
    */
  def qDedupSoft(s: SparkSession, dir: String): DataFrame = {
    val verdict = qDedupVerdict(s, dir).select(col("doc_id"), col("keeper"))
    val groups = verdict.groupBy("keeper").agg(count(lit(1)).as("grp"))
    val wsum = sum(round(lit(1.0) / col("grp"), 9).cast("decimal(18,9)"))
      .cast("double")
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(verdict, "doc_id")
      .join(groups, "keeper")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(wsum, 6).as("eff_docs"))
      .withColumn("eff_ratio", round(col("eff_docs") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** `def` for the same declaration-order reason as
    * [[oracleDedupBySource]]. */
  def oracleDedupSoft: String =
    s"""WITH v AS ($oracleDedupVerdict),
       |g AS (SELECT keeper, count(*) AS grp FROM v GROUP BY keeper)
       |SELECT d.source, count(*) AS n_docs,
       | round(CAST(sum(CAST(round(1.0 / grp, 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS eff_docs,
       | round(round(CAST(sum(CAST(round(1.0 / grp, 9) AS DECIMAL(18,9))) AS DOUBLE), 6) / count(*), 6) AS eff_ratio
       |FROM v JOIN g USING (keeper) JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --------------------------------------------------- segment-level dedup

  /** Passage segment width (words). Non-overlapping 8-word windows: long
    * enough that a shared segment means copied text (the decontamination
    * lesson — shared 3-grams are common phrases), short enough that a
    * copied paragraph yields several hits.
    */
  private val SEG_N = 8

  /** Substring-level duplication audit (`q_segment_dedup`): documents are
    * cut into consecutive NON-OVERLAPPING [[SEG_N]]-word segments and a
    * segment duplicated across >=2 distinct documents marks copied
    * passage. This is the segment-granular twin of document-level dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — duplicated SPANS inside otherwise-unique
    * pages are what document-level dedup misses).
    *
    * Scale shape: projection + explode (W/8 rows per doc — 8× fewer than
    * the overlapping shingle table), hash-agg on the 8-byte segment hash
    * with map-side combine, one equality join back, per-doc agg. No
    * windows, no pair explosion — the segment-frequency frame is
    * vocabulary-sized and AQE-broadcastable.
    */
  /** (doc_id, sg) table of hashed non-overlapping [[SEG_N]]-word segments.
    * The lambda builds each segment with ONE `slice` + `concat_ws` instead
    * of a SEG_N-wide element_at fan-in: HOF lambdas run interpreted (no
    * codegen, no subexpression elimination) and the generator child gets
    * re-evaluated on the explode path, so per-eval lambda cost multiplies
    * by the per-doc segment count — measured 6× (4.7 s → 0.8 s at sf0.1)
    * for the slice form. `w` stays a materialized attribute (the
    * HashFns.shinglesFromWords rationale).
    */
  private[graft] def segmentTable(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    words
      .select(col("doc_id"),
        when(size(col("w")) >= SEG_N,
          transform(sequence(lit(0), (size(col("w")) / SEG_N).cast("int") - 1),
            i => concat_ws(" ", slice(col("w"), i * SEG_N + 1, lit(SEG_N)))))
          .otherwise(array().cast("array<string>")).as("segs"))
      .select(col("doc_id"), explode(col("segs")).as("segment"))
      .select(col("doc_id"), h60(col("segment")).as("sg"))
  }

  def qSegmentDedup(s: SparkSession, dir: String): DataFrame = {
    // cached: the frame feeds both the frequency agg and the join back
    val segs = segmentTable(Tables.documents(s, dir)).cache()
    val segDf = segs.groupBy("sg").agg(countDistinct("doc_id").as("ndocs"))
    segs.join(segDf, "sg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum((col("ndocs") >= 2).cast("long")).as("n_dup_segments"))
      .withColumn("dup_frac", round(col("n_dup_segments") / col("n_segments"), 6))
      .orderBy("doc_id")
  }

  val oracleSegmentDedup: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |seg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $SEG_N
       |    THEN list_transform(generate_series(0, CAST(len(ws) // $SEG_N AS INT) - 1),
       |      i -> array_to_string(ws[i*$SEG_N+1 : i*$SEG_N+$SEG_N], ' '))
       |    ELSE [] END) AS segment
       |  FROM w),
       |sh AS (SELECT doc_id, ${h60Sql("segment")} AS sg FROM seg),
       |df AS (SELECT sg, count(DISTINCT doc_id) AS ndocs FROM sh GROUP BY 1)
       |SELECT doc_id, count(*) AS n_segments,
       | CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       | round(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
       |FROM sh JOIN df USING (sg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[segmentTable]] variant that keeps the segment TEXT and its
    * position — the applied scrub needs both to reconstruct documents. */
  private[graft] def segmentTableIdx(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    words
      .select(col("doc_id"),
        when(size(col("w")) >= SEG_N,
          transform(sequence(lit(0), (size(col("w")) / SEG_N).cast("int") - 1),
            i => concat_ws(" ", slice(col("w"), i * SEG_N + 1, lit(SEG_N)))))
          .otherwise(array().cast("array<string>")).as("segs"))
      .select(col("doc_id"), posexplode(col("segs")).as(Seq("seg_idx", "segment")))
      .withColumn("sg", h60(col("segment")))
  }

  /** APPLIED segment-level dedup (`q_segment_scrub`) — where
    * `q_segment_dedup` measures duplicated-passage incidence, this one
    * actually removes it (the Lee-et-al-style "deduplicate repeated
    * passages across the corpus" training-data pass): every duplicated
    * SEG_N-word segment keeps only its FIRST global occurrence
    * (ordered by doc_id, then position within doc) and each document
    * is reconstructed from its surviving segments in original order.
    * Output per doc: segments kept/dropped and the h60 fingerprint of
    * the scrubbed text (both engines rebuild the same bytes, so the
    * fingerprint pins value fidelity end-to-end).
    *
    * Scale shape: first-occurrence is a map-side-combinable
    * `min(okey)` per segment hash — NO per-segment-hash window, so a
    * passage duplicated a million times costs one combiner cell, not
    * one task (the rep-collapse lesson); the join back fans in one
    * row per distinct segment. Reconstruction groups by doc_id —
    * bounded by document length.
    */
  def qSegmentScrub(s: SparkSession, dir: String): DataFrame =
    segmentScrub(Tables.documents(s, dir))

  private[graft] def segmentScrub(docs: DataFrame): DataFrame = {
    val segs = segmentTableIdx(docs)
      .withColumn("okey", col("doc_id") * 1000000L + col("seg_idx"))
    val firstOcc = segs.groupBy("sg").agg(min("okey").as("fk"))
    segs.join(firstOcc, "sg")
      .groupBy("doc_id")
      .agg(
        sum((col("okey") === col("fk")).cast("long")).as("n_kept"),
        sum((col("okey") =!= col("fk")).cast("long")).as("n_dropped"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("okey") === col("fk"),
              struct(col("seg_idx"), col("segment"))))),
            x => x.getField("segment"))).as("clean"))
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        h60(col("clean")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val oracleSegmentScrub: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |seg AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(ws[i*$SEG_N+1 : i*$SEG_N+$SEG_N], ' ') AS segment
       |  FROM w, unnest(CASE WHEN len(ws) >= $SEG_N
       |    THEN generate_series(0, CAST(len(ws) // $SEG_N AS INT) - 1)
       |    ELSE [] END) AS t(i)),
       |sh AS (SELECT doc_id, seg_idx, segment,
       |              doc_id * 1000000 + seg_idx AS okey,
       |              ${h60Sql("segment")} AS sg
       |       FROM seg),
       |first_occ AS (SELECT sg, min(okey) AS fk FROM sh GROUP BY sg),
       |recon AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN okey = fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(sum(CASE WHEN okey <> fk THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |    coalesce(string_agg(CASE WHEN okey = fk THEN segment END, ' '
       |      ORDER BY seg_idx), '') AS clean
       |  FROM sh JOIN first_occ USING (sg)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_kept, n_dropped, ${h60Sql("clean")} AS clean_fp
       |FROM recon ORDER BY doc_id""".stripMargin

  // ------------------------------- exact-substring dedup (unaligned spans)

  /** Window width (words) for the overlapping exact-substring census.
    * Same span length as [[SEG_N]] so the two gauges are comparable;
    * the difference is the STRIDE (1 here vs SEG_N there). */
  private[graft] val SUB_N = 8

  /** (doc_id, sh) table of hashed OVERLAPPING stride-1 [[SUB_N]]-word
    * windows — the full window set, one row per position, NOT
    * deduplicated per doc (positional multiplicity is the quantity the
    * census reports). Built with the slice+concat_ws lambda (one slice
    * per eval) for the same interpreted-HOF reason as [[segmentTable]].
    */
  /** (doc_id, sh) stream of hashed overlapping windows, built WITHOUT an
    * interpreted lambda anywhere on the hot path: the generator explodes
    * only the POSITION sequence (a cheap int array — so the inferred
    * Generate filter re-evaluates integers, not string work), and the
    * window string + h60 run as a post-explode codegen projection
    * (`slice`+`concat_ws`+`md5` on the materialized words attribute).
    * The naive alias-the-window-array shape lets the inferred filter be
    * substituted through both projections down to the scan, where every
    * slice reference re-splits the raw text per lambda eval — O(W²) per
    * doc, measured 4.6 s vs 1.6 s at sf0.1 for this census (the
    * q_ngram_novelty lesson, one step further: even the well-shaped
    * lambda build pays 3 interpreted array builds per doc under the
    * inferred filter; the position-explode shape pays none). */
  private[graft] def windowTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SUB_N)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (SUB_N - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        h60(concat_ws(" ", slice(col("w"), col("i"), lit(SUB_N)))).as("sh"))

  /** UNALIGNED exact-substring duplication census (`q_dedup_substring`):
    * for every document, how many of its overlapping stride-1
    * [[SUB_N]]-word windows occur verbatim in at least one OTHER
    * document. This closes the blind spot [[qSegmentDedup]] has by
    * construction: a copied passage shifted by even one word shares ZERO
    * aligned segments with its source but every interior overlapping
    * window — stride-1 windows are the exact-substring criterion of
    * Lee et al. 2021 (any >= SUB_N-word substring duplicated elsewhere
    * ⟺ >= 1 shared window), not its aligned approximation.
    *
    * Scale shape: windows leave the scan projection as 8-byte h60 keys
    * (strings never shuffle); the first shuffle is the map-side-
    * combinable (doc_id, sh) multiplicity count — a window repeated
    * inside one doc collapses in the combiner. Window sharedness is
    * decided on that already-reduced frame: because it is unique on
    * (doc_id, sh), a plain `count >= 2` per sh IS the distinct-doc
    * test (no countDistinct expand). The shared-hash frame joins back
    * against the reduced per-doc frame — never the corpus — and the
    * frame is cached across its two consumers (the segmentTable
    * discipline). W rows per W-word doc vs segment's W/8 is the price
    * of unaligned sensitivity; all of it is 12-byte rows.
    */
  def qDedupSubstring(s: SparkSession, dir: String): DataFrame =
    substringCensus(Tables.documents(s, dir))

  /** Sharedness is decided by `min(doc) ≠ max(doc)` per window hash — a
    * 2-cell map-side-combinable aggregate (no countDistinct expand, no
    * per-(doc, sh) pre-grouping: that extra shuffle reduced nothing on
    * real corpora, where within-doc window repeats are rare, and the
    * min≠max test is immune to them anyway). The window stream is
    * cached across its two consumers (frequency agg + join back). */
  private[graft] def substringCensus(docs: DataFrame): DataFrame = {
    val wins = windowTable(docs).cache()
    val shared = wins.groupBy("sh")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("sh"), lit(1L).as("is_shared"))
    wins.join(shared, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(when(col("is_shared") === 1L, 1L)), lit(0L))
          .as("n_dup_windows"))
      .withColumn("dup_frac", round(col("n_dup_windows") / col("n_windows"), 6))
      .orderBy("doc_id")
  }

  val oracleDedupSubstring: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |win AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= $SUB_N
       |    THEN list_transform(generate_series(1, len(ws) - ${SUB_N - 1}),
       |      i -> array_to_string(ws[i : i + ${SUB_N - 1}], ' '))
       |    ELSE [] END) AS win
       |  FROM w),
       |pm AS (SELECT doc_id, ${h60Sql("win")} AS sh, count(*) AS m
       |       FROM win GROUP BY 1, 2),
       |sd AS (SELECT sh FROM pm GROUP BY sh HAVING count(*) >= 2)
       |SELECT pm.doc_id,
       |  CAST(sum(pm.m) AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN sd.sh IS NOT NULL THEN pm.m ELSE 0 END) AS BIGINT)
       |    AS n_dup_windows,
       |  round(sum(CASE WHEN sd.sh IS NOT NULL THEN pm.m ELSE 0 END) * 1.0
       |    / sum(pm.m), 6) AS dup_frac
       |FROM pm LEFT JOIN sd ON pm.sh = sd.sh
       |GROUP BY pm.doc_id ORDER BY doc_id""".stripMargin

  /** Maximal duplicated-SPAN report (`q_dedup_spans`) — the census above
    * counts shared windows; the curation decision (what to cut, whether
    * a doc is a wholesale copy) needs SPANS: adjacent shared stride-1
    * windows merged into maximal runs. A planted 40-word copy is ONE
    * 40-word span here, not 33 separate windows — the Lee et al. 2021
    * exact-substring dedup output shape (their suffix-array spans ≙
    * maximal runs of shared [[SUB_N]]-windows: a shared span of L ≥
    * SUB_N words ⟺ L−SUB_N+1 consecutive shared window starts). Per
    * doc: span count, longest span, and total span-covered words (spans
    * closer than SUB_N overlap by < SUB_N words; the sum is the
    * standard upper-bound report, documented as such).
    *
    * Scale shape: everything rides [[windowTable]]'s 12-byte hash
    * stream; sharedness is the same min≠max 2-cell aggregate as the
    * census; the run-merge is one gaps-and-islands window PARTITIONED
    * BY doc (`i − row_number` over the doc's shared positions — frame
    * bounded by doc length) and two map-side-combinable aggregates.
    * Nothing pairwise, nothing quadratic.
    */
  def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    spansOf(Tables.documents(s, dir))

  private[graft] def spansOf(docs: DataFrame): DataFrame = {
    val wins = windowTable(docs).cache()
    val shared = wins.groupBy("sh")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select("sh")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val runs = wins.join(shared, Seq("sh"))
      .select(col("doc_id"), col("i"))
      .withColumn("grp", col("i") - row_number().over(byDoc))
    runs.groupBy("doc_id", "grp")
      .agg(min("i").as("span_start"),
        (max("i") - min("i") + SUB_N).cast("long").as("span_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max("span_len").as("longest_span"),
        sum("span_len").as("dup_words"))
      .orderBy("doc_id")
  }

  /** APPLIED unaligned span scrub (`q_span_scrub`) — the [[qDedupSpans]]
    * report turned into the curation action Lee et al. actually take:
    * CUT every duplicated span from all but its first-occurrence
    * document. Ownership is per window hash (min doc_id); a word is cut
    * when any foreign-owned shared window covers its position, so the
    * canonical (lowest-id) document keeps its text intact and every
    * later copy loses exactly the copied span — unaligned, unlike
    * [[segmentScrub]]'s segment-grid approximation. Reports per doc the
    * word census and the cleaned text's fingerprint.
    *
    * Scale shape: everything flows from the one 12-byte window-hash
    * stream (computed ONCE — cached across its two consumers, the
    * ownership agg and the coverage join; uncached it re-runs the
    * per-position md5 build twice, the dominant cost at 10×):
    * ownership is a map-side-combinable min per hash; coverage merges
    * foreign window starts into maximal DISJOINT intervals per doc
    * (running-max-end island scan — the same gaps-and-islands family
    * as [[spansOf]], frame bounded by doc length) and explodes each
    * merged interval's positions exactly once. A wholesale-copied
    * W-word document therefore contributes ONE interval and W covered
    * positions — not 8·W pre-distinct rows — and the distinct shuffle
    * disappears entirely (disjoint intervals cannot collide). The
    * kept-word reassembly is per-doc bounded (the segmentScrub
    * precedent), and the anti-join on (doc, pos) is an equality join.
    * Nothing pairwise.
    */
  def qSpanScrub(s: SparkSession, dir: String): DataFrame =
    spanScrubOf(Tables.documents(s, dir))

  private[graft] def spanScrubOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val wins = windowTable(docs).cache()
    val owner = wins.groupBy("sh").agg(min("doc_id").as("own"))
    // Foreign-owned shared window starts; (doc_id, i) is unique by
    // construction (one windowTable row per position, one owner per sh).
    val foreign = wins.join(owner, Seq("sh"))
      .filter(col("doc_id") > col("own"))
      .select(col("doc_id"), col("i"))
    // Interval union per doc: each start i covers [i, i+SUB_N-1]; ends
    // are monotone in i, so the running max end over PRECEDING starts
    // decides whether this interval extends the current island (i <=
    // prev_end + 1: positions stay contiguous) or opens a new one
    // (i > prev_end + 1: a genuine uncovered gap). Islands are maximal
    // disjoint non-adjacent covered intervals, so their exploded
    // positions are the exact covered set with no duplicates.
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val preceding = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val covered = foreign
      .withColumn("pend", max(col("i") + (SUB_N - 1)).over(preceding))
      .withColumn("cut",
        when(col("pend").isNull || col("i") > col("pend") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("cut")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("i").as("s"), (max(col("i")) + (SUB_N - 1)).as("e"))
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
    val words = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "wd")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("wd"))
    val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("wd")))),
            x => x.getField("wd"))).as("clean"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        h60(coalesce(col("clean"), lit(""))).as("clean_fp"))
      .orderBy("doc_id")
  }

  val oracleSpanScrub: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |win AS (
       |  SELECT doc_id, i, ${h60Sql(s"array_to_string(ws[i : i + ${SUB_N - 1}], ' ')")} AS sh
       |  FROM w, unnest(generate_series(1, len(ws) - ${SUB_N - 1})) t(i)
       |  WHERE len(ws) >= $SUB_N),
       |own AS (SELECT sh, min(doc_id) AS own FROM win GROUP BY sh),
       |cov AS (
       |  SELECT DISTINCT n.doc_id, n.i + k.k AS pos
       |  FROM win n JOIN own USING (sh), unnest(generate_series(0, ${SUB_N - 1})) k(k)
       |  WHERE n.doc_id > own),
       |words AS (SELECT doc_id, i AS pos, ws[i] AS wd
       |          FROM w, unnest(generate_series(1, len(ws))) t(i)),
       |kept AS (
       |  SELECT wo.doc_id, wo.pos, wo.wd
       |  FROM words wo LEFT JOIN cov ON cov.doc_id = wo.doc_id AND cov.pos = wo.pos
       |  WHERE cov.pos IS NULL),
       |recon AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(wd, ' ' ORDER BY pos) AS clean
       |  FROM kept GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(w.ws) - coalesce(r.n_kept, 0) AS BIGINT) AS n_cut,
       |  ${h60Sql("coalesce(r.clean, '')")} AS clean_fp
       |FROM w LEFT JOIN recon r USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val oracleDedupSpans: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |win AS (
       |  SELECT doc_id, i, ${h60Sql(s"array_to_string(ws[i : i + ${SUB_N - 1}], ' ')")} AS sh
       |  FROM w, unnest(generate_series(1, len(ws) - ${SUB_N - 1})) t(i)
       |  WHERE len(ws) >= $SUB_N),
       |sd AS (SELECT sh FROM win GROUP BY sh HAVING min(doc_id) <> max(doc_id)),
       |runs AS (
       |  SELECT doc_id, i,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM win JOIN sd USING (sh)),
       |spans AS (
       |  SELECT doc_id, min(i) AS span_start,
       |    max(i) - min(i) + $SUB_N AS span_len
       |  FROM runs GROUP BY doc_id, grp)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(max(span_len) AS BIGINT) AS longest_span,
       |  CAST(sum(span_len) AS BIGINT) AS dup_words
       |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- entity resolution

  /** Every ER_MODth customer re-enters the registry with a typo'd name. */
  private[graft] val ER_MOD = 20
  /** Planted duplicates get keys offset by this. */
  private[graft] val ER_OFF = 1000000L
  /** Accept a candidate pair at edit distance ≤ this. */
  private[graft] val ER_MAXDIST = 2

  /** Structured record linkage (`q_entity_resolution`): find the "same
    * real-world entity, different row" pairs in a customer registry —
    * the blocking + pairwise-similarity + verdict pipeline of classical
    * entity resolution (Fellegi–Sunter shape), distinct from the
    * document dedup family: keys are dirty STRUCTURED fields, not text
    * bodies. The registry has no natural duplicates, so a DETERMINISTIC
    * dirty re-entry is planted (every ER_MODth customer returns with
    * one name character overwritten and a shifted key — the SemDeDup
    * fixture pattern); the query reports every blocked pair at
    * Levenshtein ≤ ER_MAXDIST with its distance and whether it is a
    * planted truth pair, so precision is visible in the output (serial
    * numbers one digit apart are genuine lev-1 false candidates —
    * reported, not hidden).
    *
    * Scale shape: the O(n²) all-pairs comparison is confined to BLOCKS
    * — equality on (nation, name-suffix) — exactly like the LSH-band
    * confinement in the text family: the quadratic term is per-block,
    * and the blocking key is chosen so the planted corruption cannot
    * escape it (the typo position never overlaps the suffix).
    * Levenshtein runs only on candidate pairs inside a block, never on
    * the cross product.
    */
  def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_name").as("nm"),
        col("c_nationkey").as("nat"))
    val dirty = base.filter(col("k") % ER_MOD === 0)
      .select((col("k") + ER_OFF).as("k"),
        concat(substring(col("nm"), 1, 9), lit("X"), substring(col("nm"), 11, 100)).as("nm"),
        col("nat"))
    val reg = base.unionByName(dirty)
      .withColumn("blk", concat_ws("|", col("nat"), substring(col("nm"), -4, 4)))
    // banded edit distance: the threshold arg caps the DP band at
    // O(maxdist·len) per pair and early-exits hopeless rows (-1) —
    // at registry scale this is the difference between a full DP
    // matrix per candidate and a 2-wide diagonal strip
    reg.as("a").join(reg.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") < col("b.k"))
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.nm").as("name_a"), col("b.nm").as("name_b"),
        levenshtein(col("a.nm"), col("b.nm"), ER_MAXDIST).as("lev"))
      .filter(col("lev") >= 0 && col("lev") <= ER_MAXDIST)
      .withColumn("planted", (col("key_b") - col("key_a")) === ER_OFF)
      .orderBy("key_a", "key_b")
  }

  val oracleEntityResolution: String =
    s"""WITH base AS (
       |  SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat FROM customer),
       |dirty AS (
       |  SELECT k + $ER_OFF AS k,
       |    substr(nm, 1, 9) || 'X' || substr(nm, 11, 100) AS nm, nat
       |  FROM base WHERE k % $ER_MOD = 0),
       |reg AS (
       |  SELECT *, CAST(nat AS VARCHAR) || '|' || substr(nm, length(nm) - 3, 4) AS blk
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM dirty))
       |SELECT a.k AS key_a, b.k AS key_b, a.nm AS name_a, b.nm AS name_b,
       |  CAST(levenshtein(a.nm, b.nm) AS INT) AS lev,
       |  b.k - a.k = $ER_OFF AS planted
       |FROM reg a JOIN reg b ON a.blk = b.blk AND a.k < b.k
       |WHERE levenshtein(a.nm, b.nm) <= $ER_MAXDIST
       |ORDER BY key_a, key_b""".stripMargin
}
