package kgbench

/** Output quantities recorded for the named seeds. A run on one of these
  * seeds fails its check unless its outputs reproduce them exactly; any
  * other seed is checked only against the references computed in the run.
  * Every run prints its seed's values on its `[kgbench] golden` line;
  * canon-dedup prints its parts' values with `canon.` and `dedup.` prefixes.
  */
object Goldens {
  private val recorded: Map[(String, Long), Map[String, String]] = Map(
    ("KgBuild", 1L) -> Map("bnodes" -> "11927", "error_rows" -> "296", "graph_rows" -> "98256", "wl_hash" -> "-7297265079686231183"),
    ("KgBuild", 2L) -> Map("bnodes" -> "11891", "error_rows" -> "314", "graph_rows" -> "97704", "wl_hash" -> "-1907171860770486371"),
    ("KgBuild", 3L) -> Map("bnodes" -> "12229", "error_rows" -> "310", "graph_rows" -> "99679", "wl_hash" -> "5929540422643000021"),
    ("CanonPart", 1L) -> Map("bnodes" -> "2928", "rounds" -> "3", "rows" -> "18466", "wl_hash" -> "-306806135219834051"),
    ("CanonPart", 2L) -> Map("bnodes" -> "2728", "rounds" -> "3", "rows" -> "18499", "wl_hash" -> "-5527264252406628323"),
    ("CanonPart", 3L) -> Map("bnodes" -> "2760", "rounds" -> "3", "rows" -> "18511", "wl_hash" -> "-7985737500627949163"),
    ("DedupPart", 1L) -> Map("injected_recall" -> "1.0", "lsh_pairs" -> "77", "simhash_pairs" -> "70"),
    ("DedupPart", 2L) -> Map("injected_recall" -> "1.0", "lsh_pairs" -> "76", "simhash_pairs" -> "65"),
    ("DedupPart", 3L) -> Map("injected_recall" -> "1.0", "lsh_pairs" -> "75", "simhash_pairs" -> "65"))

  def of(workloadClass: String, seed: Long): Option[Map[String, String]] = recorded.get((workloadClass, seed))
}
