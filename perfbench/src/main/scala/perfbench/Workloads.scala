package perfbench

/** What each workload runs, and why. */
object Workloads {

  /** interactive_sf0.1: bound by the fixed per-query cost. A fixed,
    * stratified draw from the DataStream (ds_*, gds_*), TPC-H / SQL
    * (q*, sql_context), event (evt_*), text and graph (graph_*) families,
    * graph_concomp standing for the iterative operators' checkpoint
    * barriers, plus the eel-style ETL op (added by the harness). Left
    * out because a run could not afford them: graph_pagerank_prod
    * (6.7 s), bpe_train (2.5 s, 4 s cold) and dedup_keeplist (3 s, and a
    * 316 s DuckDB oracle). */
  val interactive: Seq[String] = Seq("ds_filter", "ds_join", "ds_take",
    "gds_groupby_agg", "sql_context", "q6_forecast_revenue", "evt_window_agg",
    "text_quality", "graph_concomp")

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_s") || m.contains("_s.") => "s"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_bytes") || m.endsWith("bytes_left") => "bytes"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_ratio") || m.endsWith("_util") => "ratio"
    case m if m.endsWith("_per_row") => "bytes/row"
    case _ => "count"
  }
}
