package wxbench

/** Every metric the benchmark reports, with its unit; BENCHMARK.json
  * lists the same. An untraced run prints exactly `endToEnd`; a traced
  * run prints exactly `perLayer` (zero where a layer does no work on that
  * workload). */
object Metrics {
  final case class M(name: String, unit: String)

  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("round_p50_s", "s"),
    M("live_heap_mb", "MB"))

  val LakeKinds: Seq[String] = Seq("append", "merge", "delete", "scan", "lookup")

  /** Op kinds of the ingest and lake workloads: the ingest round and the
    * lake ops. The analytics workload's ops are its queries. */
  val Kinds: Seq[String] = "ingest" +: LakeKinds

  val perLayer: Seq[M] = Seq(
    M("trace.round_p50_s", "s"),
    M("spark.jobs_per_round", "count"),
    M("spark.driver_gap_s_per_round", "s"),
    M("spark.planning_s_per_round", "s"),
    M("spark.task_cpu_s_per_round", "s"),
    M("spark.gc_s_per_round", "s"),
    M("spark.shuffle_write_mb_per_round", "MB"),
    M("spark.spill_mb_per_round", "MB"),
    M("scan.bytes_read_mb_per_round", "MB"),
    M("spark.cached_relations_left", "count"),
    M("jvm.tmp_mb_growth", "MB"),
    M("core.ddl_s", "s"),
    M("sources.load_many_s", "s"),
    M("pipeline.run_batch_s", "s"),
    M("ingest.files_in_table", "count"),
    M("ingest.useful_ratio", "ratio"),
    M("ingest.rows_per_s", "1/s"),
    M("sinks.tableio_s_per_round", "s"),
    M("sinks.write_amp", "ratio"),
    M("sinks.metadata_bytes", "B"),
    M("sinks.tableio_ops.merge_first", "count"),
    M("sinks.tableio_ops.merge_last", "count"),
    M("scan.lookup_files", "count"),
    M("scan.lookup_prune_ratio", "ratio"),
    M("sql.analyze_s", "s"),
    M("lake.append_tail_s", "s"),
    M("table.stored_bytes_per_row", "B")) ++
    Kinds.flatMap(k => Seq(M(s"op.${k}_p50_s", "s"), M(s"spark.jobs.$k", "count"),
      M(s"spark.driver_gap_s.$k", "s"))) ++
    LakeKinds.map(k => M(s"sinks.tableio_ops.$k", "count")) ++
    CountingTableIO.methods.map(m => M(s"sinks.tableio_method.$m", "count")) ++
    AnalyticsMix.Queries.flatMap(q => Seq(M(s"query.${q}_fn_s", "s"),
      M(s"query.${q}_action_s", "s"), M(s"spark.jobs.$q", "count"),
      M(s"spark.driver_gap_s.$q", "s")))
}
