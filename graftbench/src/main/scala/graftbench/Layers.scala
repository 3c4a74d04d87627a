package graftbench

/** Per-layer metrics of a traced run. Every counter is per timed
  * operation (per commit or dedup pipeline), so runs that fit a
  * different number of operations into their window compare directly.
  * A layer a workload never calls reads 0. */
object Layers {

  /** Counters of the full set, in report order. */
  val Full: Seq[String] = Seq("s", "calls", "jobs", "tasks", "driver_gap_s",
    "exec_cpu_s", "shuffle_write_bytes", "input_bytes", "output_bytes",
    "fs_ops", "codegen_compiles")

  private def units(counter: String): String = counter match {
    case c if c.endsWith("_s") || c == "s" => "s"
    case c if c.endsWith("_bytes") => "bytes"
    case "driver_gap_share" | "factor" | "past_cap" | "span_err_max" =>
      "ratio"
    case _ => "count"
  }

  /** Every per-layer metric name, in report order. */
  val Names: Seq[String] =
    Seq("sources.s", "sources.exec_cpu_s", "sources.input_bytes",
      "mapping.plan_s", "mapping.exec_s", "mapping.codegen_compiles") ++
      Full.map("store.merge." + _) ++
      Seq("store.compact.s", "store.compact.input_bytes",
        "store.compact.output_bytes") ++
      Full.map("store.index." + _) ++ Seq("store.index.past_cap") ++
      Full.map("store.mv." + _) ++
      Seq("store.lookup.s", "store.lookup.jobs", "store.lookup.input_bytes",
        "store.lookup.fs_ops", "store.lookup.driver_gap_s",
        "store.lookup.p50_s", "store.lookup.samples",
        "operators.dedup.s", "operators.dedup.exec_cpu_s",
        "operators.dedup.shuffle_write_bytes", "operators.dedup.pairs",
        "operators.components.s", "operators.components.jobs",
        "operators.components.rounds", "operators.components.jobs_per_round",
        "operators.components.driver_gap_s",
        "operators.components.shuffle_write_bytes",
        "operators.cluster.s", "operators.cluster.shuffle_write_bytes",
        "spark.jobs", "spark.unlabelled_jobs", "spark.driver_gap_share",
        "jvm.gc_s", "jvm.codegen_compiles", "jvm.heap_live_peak_mb",
        "machine.factor",
        "trace.op_p50_s", "trace.span_err_max")

  /** Median point-read latency, or 0 when the run made too few reads for
    * the percentile rule. */
  def lookupP50(t: Tally): Double =
    if (Stats.reportable(t.lookupS.size, 50))
      Stats.percentile(t.lookupS.toSeq, 50) else 0.0

  def unitOf(name: String): String = name match {
    case "store.lookup.samples" => "count"
    case "jvm.heap_live_peak_mb" => "MB"
    case n => units(n.substring(n.lastIndexOf('.') + 1))
  }

  /** Sums of a layer's spans. */
  final case class Agg(ss: Seq[SpanStats]) {
    def s: Double = ss.map(_.span.wallS).sum
    def calls: Double = ss.size
    def jobs: Double = ss.map(_.jobs.size).sum
    def tasks: Double = ss.map(_.tasks.tasks).sum
    def gap: Double = ss.map(_.gapS).sum
    def union: Double = ss.map(_.unionS).sum
    def cpu: Double = ss.map(_.tasks.cpuS).sum
    def shuffle: Double = ss.map(_.tasks.shuffleWrite).sum
    def input: Double = ss.map(_.tasks.input).sum
    def output: Double = ss.map(_.tasks.output).sum
    def fs: Double = ss.map(_.span.fsOps).sum
    def codegen: Double = ss.map(_.span.codegen).sum
    def rounds: Double = ss.map(_.rounds).sum

    def full: Map[String, Double] = Map("s" -> s, "calls" -> calls,
      "jobs" -> jobs, "tasks" -> tasks, "driver_gap_s" -> gap,
      "exec_cpu_s" -> cpu, "shuffle_write_bytes" -> shuffle,
      "input_bytes" -> input, "output_bytes" -> output, "fs_ops" -> fs,
      "codegen_compiles" -> codegen)
  }

  /** The span self-check per layer: attributed job time plus driver
    * gaps against the measured wall time, as a share of the wall. */
  def spanCheck(spans: Seq[SpanStats]): Map[String, Double] =
    spans.groupBy(_.span.layer).collect {
      case (l, ss) if Agg(ss).s > 0.0 =>
        val a = Agg(ss)
        l -> math.abs(a.union + a.gap - a.s) / a.s
    }

  def metrics(spans: Seq[SpanStats], regionJobs: Seq[JobRec], ops: Double,
      w0: Long, w1: Long, t: Tally, gcS: Double, codegen: Long,
      heapLivePeakMb: Double, machineFactor: Double): Seq[(String, (Double, String))] = {
    val by = spans.groupBy(_.span.layer).map { case (l, ss) => l -> Agg(ss) }
    def agg(l: String): Agg = by.getOrElse(l, Agg(Nil))
    val v = scala.collection.mutable.HashMap.empty[String, Double]
    def put(layer: String, counters: Seq[String]): Unit = {
      val f = agg(layer).full
      counters.foreach(c => v(s"$layer.$c") = f(c))
    }
    v("sources.s") = agg("sources").s
    v("sources.exec_cpu_s") = agg("sources").cpu
    v("sources.input_bytes") = agg("sources").input
    v("mapping.plan_s") = agg("mapping.plan").s
    v("mapping.exec_s") =
      math.max(0.0, agg("mapping.exec").s - agg("sources").s)
    v("mapping.codegen_compiles") =
      agg("mapping.plan").codegen + agg("mapping.exec").codegen
    put("store.merge", Full)
    put("store.compact", Seq("s", "input_bytes", "output_bytes"))
    put("store.index", Full)
    put("store.mv", Full)
    put("store.lookup", Seq("s", "jobs", "input_bytes", "fs_ops"))
    v("store.lookup.driver_gap_s") = agg("store.lookup").gap
    put("operators.dedup", Seq("s", "exec_cpu_s", "shuffle_write_bytes"))
    put("operators.components",
      Seq("s", "jobs", "driver_gap_s", "shuffle_write_bytes"))
    v("operators.components.rounds") = agg("operators.components").rounds
    put("operators.cluster", Seq("s", "shuffle_write_bytes"))
    v("jvm.gc_s") = gcS
    v("jvm.codegen_compiles") = codegen.toDouble
    v("spark.jobs") = regionJobs.size
    v("spark.unlabelled_jobs") = regionJobs.count(_.desc.isEmpty)
    // Everything above is a total over the timed region; per operation:
    v.keys.toSeq.foreach(k => v(k) = v(k) / ops)
    // ... and these are not totals.
    val comp = agg("operators.components")
    v("operators.components.jobs_per_round") =
      if (comp.rounds > 0) comp.jobs / comp.rounds else 0.0
    v("operators.dedup.pairs") =
      if (t.pairs.nonEmpty) t.pairs.sum.toDouble / t.pairs.size else 0.0
    v("store.index.past_cap") =
      if (t.touched.nonEmpty)
        t.touched.sum.toDouble / t.touched.size / Main.DriverKeyCap
      else 0.0
    v("store.lookup.p50_s") = lookupP50(t)
    v("store.lookup.samples") = t.lookupS.size
    val regionMs = math.max(1L, w1 - w0)
    v("spark.driver_gap_share") = 1.0 - Attribution.unionMs(regionJobs.map(j =>
      (math.max(j.startMs, w0), math.min(j.endMs, w1)))).toDouble / regionMs
    v("jvm.heap_live_peak_mb") = heapLivePeakMb
    v("machine.factor") = machineFactor
    v("trace.op_p50_s") = Stats.median(t.opS.toSeq)
    v("trace.span_err_max") = (spanCheck(spans).values ++ Seq(0.0)).max
    Names.map(n => n -> (v(n), unitOf(n)))
  }
}
