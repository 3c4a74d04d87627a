package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mapping.Mapping
import graft.operators.{ConnectedComponents, Dedup}
import graft.sources.Sources
import graft.store.{ManifestTable, MaterializedView, SecondaryIndex}

/** What a workload's timed loop produced, beyond span records. */
final class Tally {
  /** Latency of each timed operation (commit, pipeline). */
  val opS = mutable.ArrayBuffer.empty[Double]
  /** Latency of each point read. */
  val lookupS = mutable.ArrayBuffer.empty[Double]
  /** Seconds spent in compaction. */
  var compactS = 0.0
  /** Source rows (or documents) the timed operations consumed. */
  var rows = 0L
  /** Input bytes the timed operations consumed. */
  var inputBytes = 0L
  /** Bytes written under the workload's output roots while timed. */
  var writtenBytes = 0L
  var attempted = 0L
  var failed = 0L
  /** Index values touched per refresh, as the generator counted them. */
  val touched = mutable.ArrayBuffer.empty[Int]
  /** Candidate pairs each dedup pass produced. */
  val pairs = mutable.ArrayBuffer.empty[Long]
  val notes = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = { failed += 1; notes += msg }

  /** Runs one operation or check; a throw counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(s"$what threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
        None
    }
  }
}

/** A closed-loop workload with one client: the driver thread issues the
  * next operation only after the previous one returns. */
trait Workload {
  /** Generates inputs from the seed and bootstraps every table under
    * `dir`. Must leave the workload ready for [[op]]. */
  def setup(dir: Path): Unit
  /** How many times [[setup]] runs; `setup_s` is the median. */
  def setupReps: Int = 3
  /** One timed operation; its latency and any extra timed work go to
    * the tally. */
  def op(i: Int, t: Tally): Unit
  /** Untimed work between set-up and the timed loop. */
  def warmUp(t: Tally): Unit = ()
  /** True when the loop may stop here (e.g. at a compaction boundary). */
  def canStop(t: Tally): Boolean = true
  /** End-of-run correctness checks against plain-Spark recomputes. */
  def check(t: Tally): Unit
  /** Bytes under the roots the workload writes to. */
  def outputBytes(): Long
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** A stream of small commits into a keyed table with a secondary index
  * and a materialized view: each 20-row messy CSV batch is read, mapped,
  * merged as a delta, and both derived tables refresh; point reads run
  * between commits and a compaction every `CompactEvery` commits. */
final class CommitStream(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload {
  import CommitStream._
  import Workload._

  private var dir: Path = _
  private var rng: SplittableRandom = _
  private var st: Gen.State = _
  private var commits = 0
  private val truthFiles = mutable.ArrayBuffer.empty[String]
  private def root: String = dir.resolve("table").toString
  private def ix = SecondaryIndex.Index(root, Model.Schema, "id",
    dir.resolve("index").toString, Seq("ref"), numBuckets = IndexBuckets)
  private def view = MaterializedView.View(root, Model.Schema, "id",
    dir.resolve("view").toString, Seq("region"), Seq("qty"), Seq("amount"),
    numBuckets = 4)

  def outputBytes(): Long = dirBytes(dir.resolve("table")) +
    dirBytes(dir.resolve("index")) + dirBytes(dir.resolve("view"))

  /** The first set-up in a JVM runs cold (class loading, JIT, first
    * code generation) and takes about three times as long as the next,
    * so the nearest-rank median of two is the warm one. A third would
    * not fit the time budget. */
  override def setupReps: Int = 2

  def setup(d: Path): Unit = {
    dir = d
    rng = new SplittableRandom(seed)
    st = Gen.baseState(rng, BaseRows)
    Gen.writeBatch(rng, dir, "base", st.ids.sorted.map(st.byId).toSeq)
    truthFiles.clear()
    truthFiles += dir.resolve("base.truth.tsv").toString
    // Bulk bootstrap: the messy base file through the same mapping.
    val m = Model.mapping().complete(Model.Schema)
    ManifestTable.create(m.project(Sources.csv(spark,
        dir.resolve("base.csv").toString)).drop(Mapping.LineCol), "id", root,
      numBuckets = NumBuckets)
    SecondaryIndex.create(spark, ix)
    MaterializedView.create(spark, view)
  }

  override def canStop(t: Tally): Boolean = commits % CompactEvery == 0 &&
    t.lookupS.size >= Stats.samplesFor(50.0)

  def op(i: Int, t: Tally): Unit = {
    val (rows, touched) = Gen.batch(rng, st, BatchRows, Traffic)
    val bytes = Gen.writeBatch(rng, dir, s"batch$i", rows)
    truthFiles += dir.resolve(s"batch$i.truth.tsv").toString
    t.touched += touched
    val csv = dir.resolve(s"batch$i.csv").toString
    if (tr.enabled) t.attempt(s"layer passes $i")(layerPasses(csv))
    val before = outputBytes()
    t.opS += timed(t.attempt(s"commit $i")(commit(i, csv)))._2
    t.rows += BatchRows
    t.inputBytes += bytes
    commits += 1
    if (commits % CompactEvery == 0) {
      t.compactS += timed(t.attempt(s"compact $i") {
        tr.span("store.compact") {
          ManifestTable.compact(spark, root, Model.Schema, "id",
            token = i.toLong)
        }
      })._2
    }
    t.writtenBytes += outputBytes() - before
    reads(t)
  }

  /** Traced runs only, before the commit and outside its timing: force
    * the source and the mapped frame with a noop sink, so their own cost
    * shows as the `sources` and `mapping.exec` layers. */
  private def layerPasses(csv: String): Unit = {
    tr.span("sources") {
      Sources.csv(spark, csv).write.format("noop").mode("overwrite").save()
    }
    val projected =
      Model.mapping().complete(Model.Schema).project(Sources.csv(spark, csv))
    tr.span("mapping.exec") {
      projected.write.format("noop").mode("overwrite").save()
    }
  }

  /** One commit: read and map the batch, merge it, refresh the index and
    * the view. */
  private def commit(i: Int, csv: String): Unit = {
    val m = Model.mapping()
    val projected = tr.span("mapping.plan") {
      m.complete(Model.Schema).project(Sources.csv(spark, csv))
    }
    tr.span("store.merge") {
      ManifestTable.merge(projected, i + 1L, m, root, Model.Schema,
        numBuckets = NumBuckets, streamId = "graftbench", delta = true)
    }
    tr.span("store.index") { SecondaryIndex.refresh(spark, ix) }
    tr.span("store.mv") { MaterializedView.refresh(spark, view) }
  }

  /** Point reads by key (hot keys, random keys, keys that do not
    * exist) and by indexed `ref` value, each checked against the
    * generator's state after the commit. */
  private def reads(t: Tally): Unit = {
    val r = rng
    val keys = Seq.fill(ReadsPerCommit - 2) {
      r.nextInt(4) match {
        case 0 => st.ids(r.nextInt(math.min(50, st.ids.size)))
        case 1 => st.ids(r.nextInt(st.ids.size))
        case 2 => st.nextId + 1L // never an id: ids are 1 or 2 mod 3
        case _ => st.ids(r.nextInt(st.ids.size))
      }
    }
    keys.foreach { k =>
      val want = st.byId.get(k).map(_.canonical).toSeq
      val (got, s) = Workload.timed {
        t.attempt(s"lookup $k") {
          tr.span("store.lookup") {
            ManifestTable.lookup(spark, root, Model.Schema, "id", Seq(k))
              .collect()
          }
        }
      }
      t.lookupS += s
      got.foreach { rows =>
        val g = rows.map(Model.canonical).toSeq
        if (g != want) t.fail(s"lookup $k returned $g, truth $want")
      }
    }
    Seq.fill(2)(st.byId(st.ids(r.nextInt(st.ids.size))).ref).foreach { v =>
      val want = st.byId.valuesIterator.filter(_.ref == v)
        .map(_.canonical).toSeq.sorted
      val (got, s) = Workload.timed {
        t.attempt(s"lookupBy $v") {
          tr.span("store.lookup") {
            SecondaryIndex.lookupBy(spark, ix, v).collect()
          }
        }
      }
      t.lookupS += s
      got.foreach { rows =>
        val g = rows.map(Model.canonical).toSeq.sorted
        if (g != want) t.fail(s"lookupBy $v returned $g, truth $want")
      }
    }
  }

  def check(t: Tally): Unit = {
    val state = Model.truthState(spark, truthFiles.toSeq).persist()
    try {
      t.attempt("table check") {
        val got = Model.digest(ManifestTable.read(spark, root, Model.Schema),
          Model.tableCols(tagsAsString = false))
        val want = Model.digest(state, Model.tableCols(tagsAsString = true))
        if (got != want) t.fail(s"table digest $got != truth $want")
      }
      t.attempt("index check") {
        val got = Model.digest(SecondaryIndex.read(spark, ix),
          Seq(col("ref"), col("keys")))
        val want = Model.digest(Model.truthIndex(state),
          Seq(col("ref"), col("keys")))
        if (got != want) t.fail(s"index digest $got != truth $want")
      }
      t.attempt("view check") {
        val got = Model.digest(MaterializedView.read(spark, view),
          Model.ViewCols.map(col))
        val want = Model.digest(Model.truthView(state),
          Model.ViewCols.map(col))
        if (got != want) t.fail(s"view digest $got != truth $want")
      }
    } finally state.unpersist()
  }
}

object CommitStream {
  /** One commit writes 0.044% of the table's rows: the ratio of a
    * 200-row delta into a 450,000-row table, both scaled down 10x so a
    * run fits the time budget (at full size a run takes about twice as
    * long). */
  val BaseRows = 45000
  val BatchRows = 20
  val NumBuckets = 8
  /** One bucket, so a refresh's merge and its delete of the values a
    * batch empties always rewrite the whole index: the bytes written, and
    * with them `write_amp`, then do not depend on which buckets a seed's
    * few touched values hash to (with 4 or 8 buckets `write_amp` spread
    * 9–15% across seeds). */
  val IndexBuckets = 1
  /** Two commits per compaction keep a run inside the time budget while
    * reads still meet one delta on top of the base. */
  val CompactEvery = 2
  /** 8 reads by key and 2 by `ref` per commit: 20 reads per cycle, the
    * fewest that report a median under the percentile rule. */
  val ReadsPerCommit = 10
  /** The mix of a batch: 30% inserts, 10% unchanged rows, 15% repeats of
    * a key already changed in the batch, the rest updates (30% of them on
    * 50 hot keys, 30% changing the indexed `ref`). These shares are
    * chosen, not taken from observed traffic. */
  val Traffic: Gen.Mix = Gen.Mix(insertShare = 0.3, unchangedShare = 0.1,
    dupShare = 0.15, hotShare = 0.3, hotKeys = 50, refChange = 0.3)
}

/** Near-duplicate curation of a synthetic corpus: LSH candidate pairs,
  * connected components, canonical assignment and best-per-cluster
  * selection, written out as the curated keep list. */
final class DedupCorpus(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload {
  import DedupCorpus._
  import Workload._

  private var dir: Path = _
  private var corpusBytes = 0L
  private var planted: Vector[(Long, Long)] = Vector.empty
  private var lastOut: Path = _
  private var lastLabels: Array[(Long, Long)] = Array.empty

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("quality_score", DoubleType)))

  /** Set-up is cheap here, so it repeats more for a steadier median. */
  override def setupReps: Int = 7

  def setup(d: Path): Unit = {
    dir = d
    val (ds, pl) = Gen.corpus(new SplittableRandom(seed), Docs, MaxChain)
    planted = pl
    corpusBytes = Gen.writeCorpus(dir, ds)
    // Session warm-up: load the corpus once (this also checks it parses).
    require(spark.read.schema(DocSchema).json(
      dir.resolve("corpus.jsonl").toString).count() == Docs,
      "corpus did not load whole")
  }

  def outputBytes(): Long = dirBytes(dir.resolve("out"))

  /** The pipeline has no set-up counterpart to warm it, so it first runs
    * once, untimed, over the same corpus. */
  override def warmUp(t: Tally): Unit =
    t.attempt("dedup warm-up")(pipeline(dir.resolve("warm"), t))

  /** The first timed pipeline still runs partly cold, so a run always
    * times at least two: their (nearest-rank) median is the warm one. */
  override def canStop(t: Tally): Boolean = t.opS.size >= 2

  def op(i: Int, t: Tally): Unit = {
    val out = dir.resolve("out").resolve(s"keep$i")
    val before = outputBytes()
    val (_, s) = Workload.timed {
      t.attempt(s"dedup $i")(pipeline(out, t))
    }
    t.opS += s
    t.rows += Docs
    t.inputBytes += corpusBytes
    t.writtenBytes += outputBytes() - before
    lastOut = out
  }

  private def pipeline(out: Path, t: Tally): Unit = {
    val corpus = spark.read.schema(DocSchema)
      .json(dir.resolve("corpus.jsonl").toString)
    val pairs = tr.span("operators.dedup") {
      val p = Dedup.minhashLsh(corpus).persist()
      t.pairs += p.count()
      p
    }
    try {
      val labels = tr.span("operators.components") {
        ConnectedComponents.components(pairs)
          .select(col("node_id").cast(LongType),
            col("component_id").cast(LongType)).collect()
      }
      lastLabels = labels.map(r => (r.getLong(0), r.getLong(1)))
      tr.span("operators.cluster") {
        val assigned = ConnectedComponents.assign(corpus, pairs)
        Dedup.bestPerCluster(assigned,
          corpus.select("doc_id", "quality_score"))
          .write.parquet(out.toString)
      }
    } finally pairs.unpersist()
  }

  def check(t: Tally): Unit = {
    t.attempt("dedup check") {
      val truth = spark.read.option("sep", "\t")
        .schema("doc_id LONG, chain INT, quality_score DOUBLE")
        .csv(dir.resolve("corpus.truth.tsv").toString)
      val chains = truth.groupBy("chain").agg(
        min("doc_id").as("canonical_id"), count(lit(1)).as("n"),
        max_by(col("doc_id"), struct(col("quality_score"), -col("doc_id")))
          .as("keep_id"),
        max("quality_score").as("best_score"))
      // Planted-pair recall and chain-minimum labels.
      val label = lastLabels.toMap
      val missed = planted.count { case (a, b) =>
        label.get(a).isEmpty || label.get(a) != label.get(b) }
      if (missed > 0)
        t.fail(s"planted-pair recall ${1.0 - missed.toDouble /
          planted.size} (${missed} of ${planted.size} missed)")
      val wantLabels = truth.join(chains.filter(col("n") > 1), "chain")
        .select(col("doc_id"), col("canonical_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (label != wantLabels) {
        val bad = (label.keySet ++ wantLabels.keySet)
          .count(k => label.get(k) != wantLabels.get(k))
        t.fail(s"$bad component labels differ from their chain minimum")
      }
      // The curated keep list equals a plain-Spark recompute.
      val cols = Seq("canonical_id", "keep_id", "best_score", "cluster_size")
      val got = Model.digest(spark.read.parquet(lastOut.toString),
        cols.map(col))
      val want = Model.digest(chains.withColumnRenamed("n", "cluster_size"),
        cols.map(col))
      if (got != want) t.fail(s"keep list digest $got != truth $want")
    }
  }
}

object DedupCorpus {
  /** Sized so one pipeline takes a few seconds on 4 cores while the
    * longest chains still need several propagation rounds (three). */
  val Docs = 2000
  val MaxChain = 40
}
