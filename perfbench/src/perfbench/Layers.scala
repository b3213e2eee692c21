package perfbench

/** The per-layer metrics a traced run prints, in a fixed order. `names`
  * are the ones BENCHMARK.json declares (a layer the workload never calls
  * reads 0); `indexNames` are printed only by the `index_serving`
  * workload, which is run by hand. */
object Layers {
  val Tables: Seq[String] = Seq(
    "genre_hub", "employee_hub", "movie_hub", "movie_info_sat",
    "movie_genre_link", "movie_emp_link", "emp_movie_l_sat",
    "employee_data", "movie_data", "movie_employee_link", "genre_metrics",
    "rating_slide")
  val IndexKinds: Seq[String] = Seq("ivfpq", "bm25", "maxsim")

  private def work(k: String) = Seq(s"$k.jobs" -> "count", s"$k.tasks" -> "count",
    s"$k.task_cpu_s" -> "s", s"$k.shuffle_mb" -> "MB", s"$k.written_mb" -> "MB")

  val names: Seq[(String, String)] =
    Seq("engine.raw_s", "engine.hub_s", "engine.link_s", "engine.sat_s",
      "engine.mart_s").map(_ -> "s") ++
    Tables.map(t => s"engine.table.${t}_s" -> "s") ++
    Seq("engine.mart_scan_s" -> "s", "engine.history_rows" -> "count",
      "engine.files" -> "count", "operators.asof_s" -> "s",
      "streaming.batch_s" -> "s", "streaming.query_planning_ms" -> "ms",
      "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.commit_offsets_ms" -> "ms", "streaming.trigger_ms" -> "ms",
      "streaming.table_rows" -> "count") ++
    work("write") ++ work("read") :+ ("jvm.gc_s" -> "s")

  val indexNames: Seq[(String, String)] =
    IndexKinds.flatMap(k => Seq("append_s", "delete_s", "search_s", "maintain_s")
      .map(m => s"operators.$k.$m" -> "s")) ++
    Seq("operators.live_batches" -> "count",
      "operators.pending_tombstones" -> "count") ++ work("maintain")

  def unitOf(name: String): String = (names ++ indexNames).find(_._1 == name).map(_._2)
    .getOrElse(sys.error(s"unknown layer metric $name"))

  /** The layer metrics of one run: every declared one (0 where the run
    * gave none), then the index ones if the run gave any. */
  def all(got: Seq[(String, String, Double)]): Seq[(String, String, Double)] = {
    val byName = got.map(g => g._1 -> g._3).toMap
    val unknown = byName.keySet -- (names ++ indexNames).map(_._1)
    require(unknown.isEmpty, s"layer metrics not declared: $unknown")
    val extra = if (indexNames.exists(n => byName.contains(n._1))) indexNames else Nil
    (names ++ extra).map { case (n, u) => (n, u, byName.getOrElse(n, 0.0)) }
  }
}
