package graftbench

/** The fixed query list of each workload, in pass order. */
object Workloads {
  val queries: Map[String, Seq[String]] = Map(
    "olap" -> Seq("q_pricing_summary", "q_basket_pairs", "q_multiway_join",
      "q_cube", "q_rank"),
    "corpus" -> Seq("q_bm25", "q_bm25_upsert", "q_simhash", "q_minhash_sig",
      "q_cosine_topk", "q_index_upsert"),
    "dedup" -> Seq("q_exact_dedup", "q_near_dup", "q_containment",
      "q_simhash_neardup", "q_dedup_clusters", "q_keep_canonical"),
  )

  private val modules = {
    import graft.ops._
    Seq("Relational" -> Relational.queries, "Joins" -> Joins.queries,
      "Windows" -> Windows.queries, "Semi" -> Semi.queries,
      "Text" -> Text.queries, "Similarity" -> Similarity.queries,
      "Analytics" -> Analytics.queries, "Corpus" -> Corpus.queries)
  }

  /** The engine module (`graft.ops.<Module>`) that owns a query. */
  def module(query: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("?")
}
