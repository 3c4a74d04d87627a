package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{BenchSentinel, GraftSession}

/** Runs one workload and prints its result as the last stdout line:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Order of events: machine calibration, session start, `setupReps`
  * timed set-ups (median = `setup_s`), the workload's untimed warm-up,
  * then the timed closed loop for `--seconds` (it ends at the next point
  * where the workload may stop), then the correctness checks. `--trace 0`
  * reports the end-to-end metrics; `--trace 1` registers the span
  * listener and reports the per-layer metrics instead.
  */
object Main {

  /** The end-to-end metrics and their units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "rows_per_s" -> "1/s", "op_p50_s" -> "s", "write_amp" -> "ratio",
    "cpu_s_per_op" -> "s")

  /** graft's default driver-key cap (`maxDriverKeys`). */
  val DriverKeyCap = 100000

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String): String = a.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
      .resolve(s"$workload-$seed-${if (trace) 1 else 0}")
    val code = try run(workload, seed, seconds, trace, work)
      finally deleteTree(work)
    System.out.flush()
    sys.exit(code)
  }

  /** Progress on standard error (the result goes to standard out). */
  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  private def run(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path): Int = {
    deleteTree(work)
    Files.createDirectories(work)
    val calib = BenchSentinel.measure(5)
    val cores = Runtime.getRuntime.availableProcessors()
    val builder = GraftSession.builder("graftbench", shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    if (trace) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runIn(spark, workload, seed, seconds, trace, work, calib)
    finally spark.stop()
  }

  private def runIn(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: Path, calib: Double): Int = {
    val tr = new Tracer(spark.sparkContext, trace)
    val wl: Workload = workload match {
      case "commit_stream" => new CommitStream(spark, tr, seed)
      case "dedup_corpus" => new DedupCorpus(spark, tr, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other")
    }

    // Set-up, several times from scratch; the last copy is the one used.
    val setupS = (0 until wl.setupReps).map { k =>
      val d = work.resolve(s"rep$k")
      if (k > 0) deleteTree(work.resolve(s"rep${k - 1}"))
      val s = Workload.timed(wl.setup(d))._2
      log(f"setup rep $k: $s%.3f s")
      s
    }
    val warm = new Tally
    log(f"warm-up: ${Workload.timed(wl.warmUp(warm))._2}%.3f s")

    // Timed region.
    val t = new Tally
    val sentinelBefore = BenchSentinel.measure()
    val heap = new Probes.HeapPeak
    heap.start()
    val cpu0 = Probes.cpuSeconds()
    val gc0 = Probes.gcSeconds()
    val cg0 = Probes.codegenCompiles()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // Past the deadline the loop still finishes the workload's minimum
    // (e.g. a compaction cycle); the only time limit is run.py's.
    var i = 0
    while (i == 0 || System.nanoTime() < deadline || !wl.canStop(t)) {
      wl.op(i, t)
      log(f"op $i: ${t.opS.last}%.3f s")
      i += 1
    }
    val regionS = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val cpuS = Probes.cpuSeconds() - cpu0
    val gcS = Probes.gcSeconds() - gc0
    val cgN = Probes.codegenCompiles() - cg0
    val heapMb = heap.stop()
    val sentinelAfter = BenchSentinel.measure()
    val factor = math.max(sentinelBefore, sentinelAfter) /
      math.min(calib, math.min(sentinelBefore, sentinelAfter))

    wl.check(t)
    val spans = tr.finish(spark)

    val n = t.opS.size.toDouble
    val attempted = warm.attempted + t.attempted
    val failed = warm.failed + t.failed
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup_reps_s" -> setupS, "ops" -> t.opS.size,
      "op_s" -> t.opS.toSeq, "compact_s" -> t.compactS,
      "region_s" -> regionS, "rows" -> t.rows, "input_bytes" -> t.inputBytes,
      "written_bytes" -> t.writtenBytes,
      "lookups" -> t.lookupS.size,
      "lookup_p50_s" -> Layers.lookupP50(t),
      "touched_index_values" -> t.touched.toSeq,
      "driver_key_cap" -> DriverKeyCap,
      "auto_broadcast_join_threshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "machine_calib_s" -> calib,
      "machine_sentinel_s" -> Seq(sentinelBefore, sentinelAfter),
      "machine_factor" -> factor,
      "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot(kv => kv._1.contains("dir") || kv._1.contains("host") ||
          kv._1.contains("port") || kv._1.contains(".id"))
        .toMap,
      "failures" -> t.notes.toSeq.++(warm.notes.toSeq))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      val v = Map(
        "setup_s" -> Stats.median(setupS),
        "rows_per_s" -> t.rows / (t.opS.sum + t.compactS),
        "op_p50_s" -> Stats.median(t.opS.toSeq),
        "write_amp" -> t.writtenBytes.toDouble / t.inputBytes,
        "cpu_s_per_op" -> cpuS / n)
      EndToEnd.foreach { case (k, u) => metrics(k) = (v(k), u) }
    } else {
      val timedSpans = spans.filter(_.span.startMs >= w0)
      Layers.metrics(timedSpans, tr.jobsBetween(w0, w1), n, w0, w1,
        t, gcS, cgN, heapMb, factor).foreach { case (k, v) => metrics(k) = v }
      report("span_check") = Layers.spanCheck(timedSpans)
    }
    println(Json.write(Map("report" -> report)))
    val correct = failed == 0
    println(Json.write(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }
}

/** The result lines' JSON (numbers keep every digit). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
