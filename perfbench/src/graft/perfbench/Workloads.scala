package graft.perfbench

/** The registry queries each workload issues, with the operator module
  * that implements them and the shared trained artifacts (memos) they
  * read. */
final case class Query(name: String, module: String, memos: Seq[String] = Nil)

object Workloads {
  private def q(module: String, memos: String*)(names: String*) =
    names.map(Query(_, module, memos))

  /** LLM-data pipeline queries at sf0.1: dedup (with the connected-
    * components verdict), ANN (the IVF coarse quantizer, PQ codebooks and
    * the trained probe), text, multimodal (the phash pair census) and the
    * curation pipeline. Each shared artifact but the PQ codebooks has at
    * least two consumers, so its build is followed by hits. `q_auc_probe`, `q_curriculum`,
    * `q_dedup_semantic`, `q_gains_curve` and `q_media_clusters` write a
    * frame that descends only from a `localCheckpoint`, and their lineage
    * record has no inputs: the lineage check fails them in every run. */
  val curation: Seq[Query] =
    q("Dedup")("q_dedup_exact", "q_dedup_fingerprint") ++
    q("Dedup", "cc")("q_dedup_verdict", "q_dedup_by_source") ++
    q("Similarity", "centroid")("q_knn_ivf", "q_kmeans_profile", "q_dedup_semantic") ++
    q("Similarity", "pq")("q_knn_pq") ++
    q("Similarity", "probe")("q_label_noise", "q_calibration", "q_auc_probe", "q_gains_curve") ++
    q("TextAnalysis")("q_text_langid") ++
    q("Multimodal")("q_media_header") ++
    q("Multimodal", "phash")("q_media_phash", "q_media_clusters") ++
    q("Pipeline")("q_corpus_curate", "q_sample_stratified", "q_curriculum")

  /** Short registry queries at sf0.01, one per operator module, each
    * written as parquet. */
  val capture: Seq[Query] =
    q("Relational")("q1_pricing_summary") ++
    q("Stats")("q_histogram") ++
    q("EventOps")("q_events_sessionize") ++
    q("Warehouse")("q_cdc_apply") ++
    q("Privacy")("q_k_anonymity") ++
    q("MlPrep")("q_feature_hash") ++
    q("Sources")("q_source_csv")

  /** Catalog ops per round, cycling over the three closure kinds. */
  val catalogKinds: Seq[String] = Seq("downstream", "columns", "pii")

  /** Seconds of `--seconds` per round. A run is a whole number of
    * rounds, `--seconds` over this, so the work a run does never depends
    * on how fast the box happens to be. At 8 s: one curation round (about
    * 27 s on a 4-core box), two capture and two catalog rounds (about 6 s
    * each). */
  def roundSeconds(w: String): Double = if (w == "curation") 25.0 else 4.0

  def named(w: String): Seq[Query] = w match {
    case "curation" => curation
    case "capture"  => capture
    case _          => Nil
  }

  /** Artifact build counters, by memo name (process-wide totals). */
  def artifactRuns(): Map[String, Long] = Map(
    "cc" -> graft.operators.Dedup.ccRuns.get,
    "centroid" -> graft.operators.Similarity.centroidRuns.get,
    "pq" -> graft.operators.Similarity.pqRuns.get,
    "probe" -> graft.operators.Similarity.probeRuns.get,
    "phash" -> graft.operators.Multimodal.phashRuns.get)
}
