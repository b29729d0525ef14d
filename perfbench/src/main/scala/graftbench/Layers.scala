package graftbench

/** The metric names and units the benchmark reports. A workload that
  * does not run a layer reports that layer's metrics as 0. */
object Layers {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_cpu_s" -> "s",
    "pass_cpu_s" -> "s",
    "stored_bytes_per_input_byte" -> "ratio")

  val Families: Seq[String] = Seq("Relational", "Events", "TextOps", "Vectors",
    "Cleaning", "Multimodal", "Curation", "Matching", "Layout", "Graph")


  val Kernels: Seq[String] =
    Seq("minhashFast", "simhash16", "gramCodes3", "tokenNgrams", "srpBuckets", "packedSig")

  val PipelineStages: Seq[String] = Seq("bronze", "silver", "gold", "quality")

  val perLayer: Seq[(String, String)] =
    Seq("wall.op_p50_s" -> "s", "wall.pass_s" -> "s", "setup.cold_write_s" -> "s",
      "jvm.peak_rss_mb" -> "MB", "jvm.live_heap_mb" -> "MB",
      "pipeline.bronze.s" -> "s", "pipeline.bronze.files" -> "count",
      "pipeline.bronze.bytes" -> "bytes",
      "pipeline.silver.s" -> "s", "pipeline.silver.jobs" -> "count",
      "pipeline.silver.tasks" -> "count", "pipeline.silver.task_s" -> "s",
      "pipeline.silver.shuffle_bytes" -> "bytes", "pipeline.silver.files" -> "count",
      "pipeline.silver.rows_out_per_in" -> "ratio",
      "pipeline.gold.s" -> "s", "pipeline.gold.jobs" -> "count",
      "pipeline.gold.tasks" -> "count", "pipeline.gold.task_s" -> "s",
      "pipeline.gold.files" -> "count", "pipeline.gold.partition_dirs" -> "count",
      "pipeline.gold.bytes" -> "bytes",
      "pipeline.quality.s" -> "s", "pipeline.quality.jobs" -> "count") ++
      PipelineStages.map(st => s"pipeline.$st.failed" -> "count") ++
      Seq("queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
        "queries.jobs" -> "count", "queries.ms_per_job" -> "ms",
        "queries.tasks" -> "count", "queries.task_s" -> "s",
        "queries.core_busy_frac" -> "ratio", "queries.shuffle_bytes" -> "bytes",
        "queries.spill_bytes" -> "bytes", "queries.gc_s" -> "s") ++
      Families.flatMap(f => Seq(s"queries.$f.s" -> "s", s"queries.$f.jobs" -> "count")) ++
      Seq("checkpoints.rdds" -> "count",
        "catalog.builds" -> "count", "catalog.late_builds" -> "count",
        "catalog.bytes" -> "bytes") ++
      QueryMix.Groups.map(_.name).flatMap(g => Seq(s"ingest.$g.s" -> "s", s"ingest.$g.jobs" -> "count",
        s"ingest.$g.task_s" -> "s", s"ingest.$g.bytes" -> "bytes")) ++
      Seq("ingest.overlap" -> "ratio") ++
      Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++
      Seq("trace.overhead_frac" -> "ratio", "trace.unaccounted_frac" -> "ratio",
        "trace.harness_frac" -> "ratio")

  /** Every per-layer metric at 0, for a workload to overwrite. */
  def zeros: Map[String, Double] = perLayer.map(_._1 -> 0.0).toMap
}
