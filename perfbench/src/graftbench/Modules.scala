package graftbench

import graft.{Catalog, QueryDef}

/** Catalog entries by module: an entry belongs to the module (package) of
  * the public `defs` list that holds it. The list mirrors `graft.Catalog.all`;
  * [[check]] fails if the two ever disagree.
  */
object Modules {
  val names: Seq[String] =
    Seq("operators", "functions", "plans", "pipeline", "sources", "streaming", "sql")

  private def defsByModule: Seq[(String, Seq[QueryDef])] = {
    import graft._
    Seq(
      "operators" -> (operators.RelationalCore.defs ++ operators.Analytics.defs ++
        operators.Windows.defs ++ operators.ScalarsAndSets.defs ++ operators.Sketches.defs ++
        operators.DistributedRank.defs ++ operators.AsOfJoin.defs ++ operators.Lttb.defs),
      "functions" -> functions.Dictionaries.defs,
      "plans" -> (plans.TopKPerGroup.defs ++ plans.MvRouting.defs),
      "pipeline" -> (pipeline.Sampling.defs ++ pipeline.Dedup.defs ++ pipeline.Decontam.defs ++
        pipeline.Similarity.defs ++ pipeline.Clustering.defs ++ pipeline.TextAnalysis.defs ++
        pipeline.Scrub.defs ++ pipeline.UrlCuration.defs ++ pipeline.Curation.defs ++
        pipeline.Multimodal.defs ++ pipeline.CorpusPipeline.defs ++ pipeline.SparseText.defs),
      "sources" -> sources.Layout.defs,
      "streaming" -> (streaming.StreamingMVs.defs ++ streaming.MvCascade.defs),
      "sql" -> (sql.SqlGateway.defs ++ sql.SystemTables.defs))
  }

  lazy val of: Map[String, String] =
    defsByModule.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  /** Problems with the attribution: entries missing, doubled or unknown. */
  def check: Seq[String] = {
    val attributed = defsByModule.flatMap(_._2.map(_.name))
    val catalog = Catalog.all.map(_.name)
    val doubled = attributed.groupBy(identity).collect { case (n, xs) if xs.size > 1 => s"twice: $n" }
    val missing = catalog.diff(attributed).map(n => s"unattributed: $n")
    val unknown = attributed.diff(catalog).map(n => s"not in catalog: $n")
    (doubled ++ missing ++ unknown).toSeq
  }
}
