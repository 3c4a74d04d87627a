package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed and its size parameters: it draws only from a `SplittableRandom`
  * and writes plain text files, so the same seed gives byte-identical
  * files on any JVM. graft only ever sees those files.
  *
  * Each messy input is written beside a typed truth file (same row
  * order): the canonical value of every column, which the correctness
  * checks read with plain Spark and no graft code.
  */
object Gen {

  // ------------------------------------------------------------ records

  /** One row of the keyed table, in its typed (truth) form. */
  final case class Rec(
      id: Long,
      ref: String,
      region: String,
      cents: Long,
      qty: Option[Long],
      date: Option[LocalDate],
      active: Option[Boolean],
      tags: Vector[String],
      note: Option[String]) {

    def amount: Double = cents / 100.0

    /** Canonical one-line rendering, shared by the truth files and the
      * lookup checks (a graft answer is rendered the same way). */
    def canonical: String = Seq(
      id.toString, ref, region, java.lang.Double.toString(amount),
      qty.fold("")(_.toString), date.fold("")(_.toString),
      active.fold("")(_.toString), tags.mkString("|"),
      note.getOrElse("")).mkString("\t")
  }

  /** Column order of the messy CSV, which the benchmark's mapping
    * addresses by index. `locale` picks the amount's number format and
    * is not a table column. */
  val CsvHeader: Seq[String] = Seq("id", "ref", "region", "locale",
    "amount", "qty", "order_date", "active", "tags", "note")

  /** Column order of a truth TSV (`seq` = row position in its file). */
  val TruthHeader: Seq[String] = Seq("id", "ref", "region", "amount",
    "qty", "order_date", "active", "tags", "note", "seq")

  private val Regions: Vector[String] =
    Vector.tabulate(40)(i => f"region-$i%02d")
  private val TagWords: Vector[String] = Vector("alpha", "bravo",
    "charlie", "delta", "echo", "foxtrot", "golf", "hotel", "india",
    "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "rouge", "vert", "bleu", "jaune")
  private val NoteWords: Vector[String] = Vector("livraison", "express",
    "colis", "retour", "client", "urgent", "facture", "remise", "stock",
    "fragile", "commande", "partielle", "signé", "dépôt", "relance")
  private val Base36 = "0123456789abcdefghijklmnopqrstuvwxyz"

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T =
    xs(r.nextInt(xs.size))

  /** A near-unique reference string (the indexed column). */
  def newRef(r: SplittableRandom): String = {
    val sb = new StringBuilder("R")
    var i = 0
    while (i < 10) { sb += Base36.charAt(r.nextInt(36)); i += 1 }
    sb.toString
  }

  /** A fresh random record for `id`. Blank mix: qty, date, active and
    * note are blank (NULL) a few percent of the time, amount is zero. */
  def newRec(r: SplittableRandom, id: Long): Rec = {
    val cents =
      if (r.nextInt(30) == 0) 0L
      else {
        val mag = r.nextInt(4) match {
          case 0 => r.nextLong(100L)
          case 1 => r.nextLong(100000L)
          case 2 => r.nextLong(10000000L)
          case _ => r.nextLong(1000000000L)
        }
        if (r.nextInt(8) == 0) -mag else mag
      }
    Rec(
      id = id,
      ref = newRef(r),
      region = pick(r, Regions),
      cents = cents,
      qty = if (r.nextInt(20) == 0) None else Some(r.nextLong(500L) - 20L),
      date = if (r.nextInt(20) == 0) None
        else Some(LocalDate.of(2015, 1, 1).plusDays(r.nextLong(4000L))),
      active = if (r.nextInt(20) == 0) None else Some(r.nextBoolean()),
      tags = Vector.fill(r.nextInt(5))(pick(r, TagWords)),
      note = if (r.nextInt(5) == 0) None else Some(newNote(r)))
  }

  private def newNote(r: SplittableRandom): String = {
    val words = Vector.fill(1 + r.nextInt(5))(pick(r, NoteWords))
    val note = r.nextInt(4) match {
      case 0 => words.mkString(" ") + ", " + r.nextInt(9) + " colis"
      case 1 => "\"" + words.head + "\" " + words.tail.mkString(" ")
      case _ => words.mkString(" ")
    }
    note.trim
  }

  /** An update of `old`: the amount and some other columns change, the
    * key stays, and the indexed `ref` changes when `changeRef` is set. */
  def updated(r: SplittableRandom, old: Rec, changeRef: Boolean): Rec = {
    val fresh = newRec(r, old.id)
    old.copy(
      ref = if (changeRef) fresh.ref else old.ref,
      cents = if (fresh.cents != old.cents) fresh.cents else old.cents + 1,
      qty = if (r.nextBoolean()) fresh.qty else old.qty,
      date = if (r.nextInt(3) == 0) fresh.date else old.date,
      active = if (r.nextInt(3) == 0) fresh.active else old.active,
      tags = if (r.nextInt(3) == 0) fresh.tags else old.tags,
      note = if (r.nextInt(3) == 0) fresh.note else old.note)
  }

  // ------------------------------------------------------ messy strings

  private val Pads = Vector(" ", "  ", "\t", " ")

  private def pad(r: SplittableRandom, s: String): String =
    if (r.nextInt(8) != 0) s
    else if (r.nextBoolean()) pick(r, Pads) + s
    else s + pick(r, Pads)

  private def groupThousands(digits: String, sep: String): String =
    digits.reverse.grouped(3).mkString(sep.reverse).reverse

  /** An amount in the given locale's number format: thousands groups,
    * `(x)` or `-x` negatives, blanks for zero. */
  def messyAmount(r: SplittableRandom, cents: Long, fr: Boolean): String = {
    if (cents == 0L && r.nextInt(3) != 0) return ""
    val abs = math.abs(cents)
    val whole = (abs / 100).toString
    val frac = f"${abs % 100}%02d"
    val grouped =
      if (whole.length > 3 && r.nextBoolean())
        groupThousands(whole,
          if (fr) pick(r, Vector(" ", " ", " ")) else ",")
      else whole
    val body =
      if (abs % 100 == 0 && r.nextBoolean()) grouped
      else grouped + (if (fr) "," else ".") + frac
    val signed =
      if (cents >= 0) body
      else if (r.nextBoolean()) s"($body)"
      else "-" + body
    pad(r, signed)
  }

  def messyDate(r: SplittableRandom, d: Option[LocalDate]): String =
    d match {
      case None => if (r.nextInt(4) == 0) " " else ""
      case Some(x) =>
        val (y, m, dd) = (x.getYear, x.getMonthValue, x.getDayOfMonth)
        pad(r, r.nextInt(5) match {
          case 0 => s"$dd/$m/$y"
          case 1 => f"$dd%02d/$m%02d/$y"
          case 2 => x.toString
          case 3 => s"$dd.$m.$y"
          case _ => s"$y-$m-$dd"
        })
    }

  private val TrueWords = Vector("oui", "vrai", "yes", "true", "1", "OUI",
    "Yes", "Vrai")
  private val FalseWords = Vector("non", "faux", "no", "false", "0", "NON")

  def messyBool(r: SplittableRandom, b: Option[Boolean]): String = b match {
    case None => ""
    case Some(true) => pick(r, TrueWords)
    case Some(false) => pick(r, FalseWords)
  }

  def messyTags(r: SplittableRandom, tags: Vector[String]): String =
    if (tags.isEmpty) ""
    else if (tags.size == 2 && r.nextInt(4) == 0)
      tags.mkString(if (r.nextBoolean()) " et " else " and ")
    else r.nextInt(4) match {
      case 0 => tags.mkString("; ")
      case 1 => tags.map(t => s"'$t'").mkString(", ")
      case _ => tags.mkString(", ")
    }

  def messyQty(r: SplittableRandom, q: Option[Long]): String = q match {
    case None => ""
    case Some(v) if v > 0 && r.nextInt(6) == 0 => pad(r, "+" + v)
    case Some(v) => pad(r, v.toString)
  }

  /** One messy CSV line for `rec`. */
  def messyLine(r: SplittableRandom, rec: Rec): String = {
    val fr = r.nextInt(5) < 2
    Seq(
      if (r.nextInt(10) == 0) s" ${rec.id} " else rec.id.toString,
      pad(r, rec.ref),
      pad(r, rec.region),
      if (fr) "fr" else "en",
      messyAmount(r, rec.cents, fr),
      messyQty(r, rec.qty),
      messyDate(r, rec.date),
      messyBool(r, rec.active),
      messyTags(r, rec.tags),
      rec.note.fold(if (r.nextInt(3) == 0) "  " else "")(pad(r, _))
    ).map(csvField).mkString(",")
  }

  /** RFC-4180 quoting where needed. */
  def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  // ------------------------------------------------------------ writers

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p),
      UTF_8), 1 << 16)
  }

  /** Writes `rows` as a messy CSV (with header) plus its truth TSV
    * (`<name>.csv`, `<name>.truth.tsv`). Returns the CSV's byte size. */
  def writeBatch(r: SplittableRandom, dir: Path, name: String,
      rows: Seq[Rec]): Long = {
    val csv = dir.resolve(s"$name.csv")
    val w = writer(csv)
    val t = writer(dir.resolve(s"$name.truth.tsv"))
    try {
      w.write(CsvHeader.mkString(",")); w.write('\n')
      var seq = 0
      rows.foreach { rec =>
        w.write(messyLine(r, rec)); w.write('\n')
        t.write(rec.canonical); t.write('\t'); t.write(seq.toString)
        t.write('\n')
        seq += 1
      }
    } finally { w.close(); t.close() }
    Files.size(csv)
  }

  // ---------------------------------------------------- keyed workloads

  /** Traffic shape of one batch against a keyed table. Shares are of
    * the batch's rows and updates take the rest; `dupShare` rows update
    * again a key already inserted or updated in the same batch (new
    * values, same `ref`: last write wins), `hotShare` of the updates hit
    * distinct keys among the `hotKeys` hot keys, and `refChange` of the
    * updates change the indexed `ref`. */
  final case class Mix(
      insertShare: Double,
      unchangedShare: Double,
      dupShare: Double,
      hotShare: Double,
      hotKeys: Int,
      refChange: Double)

  /** Simulated table state: the generator replays last-write-wins
    * itself so it knows the truth after every batch. */
  final class State(val byId: mutable.LongMap[Rec], var nextId: Long) {
    val ids: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.from(byId.keys)
    def apply(rec: Rec): Unit = {
      if (!byId.contains(rec.id)) ids += rec.id
      byId(rec.id) = rec
    }
  }

  def baseState(r: SplittableRandom, rows: Int): State = {
    val m = mutable.LongMap.empty[Rec]
    var i = 0
    // Ids are sparse so inserts interleave with existing keys in every
    // bucket rather than appending at the end of the key space.
    while (i < rows) { val id = 1L + 3L * i; m(id) = newRec(r, id); i += 1 }
    new State(m, 2L)
  }

  private def freshId(st: State): Long = {
    while (st.byId.contains(st.nextId)) st.nextId += 3L
    val id = st.nextId
    st.nextId += 3L
    id
  }

  private def shuffle[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Draws one batch of `n` rows from `st` under `mix`, applies it to
    * `st`, and returns (rows in file order, index values touched). Each
    * kind of row gets exactly its share of the batch, in seeded order,
    * and exactly its share of the updates changes `ref`, so every seed
    * gives batches of the same shape and (up to rare key collisions) the
    * same number of touched index values. The touched count is the
    * distinct old and new `ref` values of keys whose row changed — what
    * a secondary-index refresh must rewrite. */
  def batch(r: SplittableRandom, st: State, n: Int, mix: Mix)
      : (Vector[Rec], Int) = {
    val out = Vector.newBuilder[Rec]
    val before = mutable.LongMap.empty[Option[Rec]]
    val changed = mutable.ArrayBuffer.empty[Long]
    def emit(rec: Rec): Unit = {
      if (!before.contains(rec.id)) before(rec.id) = st.byId.get(rec.id)
      st(rec); out += rec
    }
    def count(share: Double) = math.round(n * share).toInt
    val nIns = count(mix.insertShare)
    val nDup = count(mix.dupShare)
    val nSame = count(mix.unchangedShare)
    val nUpd = n - nIns - nDup - nSame
    val nHot = math.round(nUpd * mix.hotShare).toInt
    val nRef = math.round(nUpd * mix.refChange).toInt
    // 0 insert, 1 hot update, 2 update, 3 unchanged, 4 repeat in batch
    val kinds = shuffle(r, Array.fill(nIns)(0) ++ Array.fill(nHot)(1) ++
      Array.fill(nUpd - nHot)(2) ++ Array.fill(nSame)(3) ++
      Array.fill(nDup)(4))
    // A repeat needs a changed key before it.
    val firstChange = kinds.indexWhere(k => k <= 2)
    if (firstChange > 0) {
      val k = kinds(firstChange); kinds(firstChange) = kinds(0); kinds(0) = k
    }
    val refFlips = shuffle(r,
      Array.fill(nRef)(true) ++ Array.fill(nUpd - nRef)(false))
    val hot = math.max(1, math.min(mix.hotKeys, st.ids.size))
    val hotOrder = shuffle(r, Array.tabulate(hot)(identity))
    var u = 0
    var h = 0
    kinds.foreach {
      case 0 =>
        val rec = newRec(r, freshId(st)); emit(rec); changed += rec.id
      case 3 => emit(st.byId(st.ids(r.nextInt(st.ids.size))))
      case 4 if changed.nonEmpty =>
        val id = changed(r.nextInt(changed.size))
        emit(updated(r, st.byId(id), changeRef = false))
      case 4 => emit(st.byId(st.ids(r.nextInt(st.ids.size))))
      case k =>
        val id =
          if (k == 1) { h += 1; st.ids(hotOrder((h - 1) % hot)) }
          else st.ids(r.nextInt(st.ids.size))
        emit(updated(r, st.byId(id), refFlips(u)))
        u += 1
        changed += id
    }
    val touched = mutable.HashSet.empty[String]
    before.foreach { case (id, prev) =>
      val now = st.byId(id)
      if (!prev.contains(now)) {
        prev.foreach(p => touched += p.ref)
        touched += now.ref
      }
    }
    (out.result(), touched.size)
  }

  // ----------------------------------------------------- dedup corpus

  /** A document of the synthetic corpus with its planted cluster. */
  final case class Doc(id: Long, text: String, score: Double, chain: Int)

  private val Vocab: Vector[String] = {
    val r = new SplittableRandom(0x5eedL)
    Vector.fill(6000) {
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct
  }

  /** Fractional part of `i * a`: a low-discrepancy sequence in [0, 1). */
  private def weyl(i: Int, a: Double): Double = {
    val x = i * a
    x - math.floor(x)
  }

  /** A corpus of `docs` documents in planted near-duplicate chains.
    * Chain lengths are skewed (most documents are singletons, a few
    * chains are long); each chain member replaces one word of its
    * predecessor (three words past the last edit), so neighbours are
    * near-identical (word 3-shingle
    * Jaccard ≥ 0.96 at the 150-word minimum length) while distant
    * members drift apart, which makes the duplicate graph a long path
    * that takes several propagation rounds to label. Document lengths
    * are skewed too (150 words and up). The chain lengths and document
    * lengths come from fixed low-discrepancy sequences, so every seed
    * gives a corpus of the same shape; the seed picks the words, the
    * chain order and the ids. Returns the docs plus the planted
    * (predecessor, successor) pairs. */
  def corpus(r: SplittableRandom, docs: Int, maxChain: Int)
      : (Vector[Doc], Vector[(Long, Long)]) = {
    // (chain length, document length) per chain, P(len >= L) ~ 2/L.
    val shapes = mutable.ArrayBuffer.empty[(Int, Int)]
    var total = 0
    var c = 1
    while (total < docs) {
      val len =
        if (weyl(c, 0.6180339887498949) < 0.6) 1
        else math.min(maxChain,
          (2.0 / (1.0 - weyl(c, 0.41421356237309515))).toInt)
      val w = weyl(c, 0.7320508075688772)
      val words = 150 +
        (if (w < 0.25) (w * 4 * 300).toInt else ((w - 0.25) / 0.75 * 50).toInt)
      val l = math.min(len, docs - total)
      shapes += (l -> words)
      total += l
      c += 1
    }
    val order = shuffle(r, shapes.toArray)
    val ids = shuffle(r, Array.tabulate(docs)(i => (i + 1).toLong * 7L))
    val out = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[(Long, Long)]
    var k = 0
    order.zipWithIndex.foreach { case ((len, n), chain) =>
      val words = Array.fill(n)(pick(r, Vocab))
      // Ids ascend along the chain, so its minimum (the component label)
      // starts at one end and has the whole path to travel.
      val chainIds = ids.slice(k, k + len).sorted
      val offset = r.nextInt(n)
      var prev = -1L
      (0 until len).foreach { j =>
        // Edits three words apart never share a shingle, so every step
        // drifts by the same amount.
        if (j > 0) words((offset + 3 * j) % n) = pick(r, Vocab)
        val id = chainIds(j)
        out += Doc(id, words.mkString(" "),
          math.rint(r.nextDouble() * 1000.0) / 1000.0, chain)
        if (prev >= 0) planted += (prev -> id)
        prev = id
      }
      k += len
    }
    (out.result(), planted.result())
  }

  /** Writes the corpus as JSON Lines (`doc_id`, `text`,
    * `quality_score`) plus its truth TSV (`doc_id`, `chain`,
    * `quality_score`). Returns the JSONL byte size. */
  def writeCorpus(dir: Path, docs: Seq[Doc]): Long = {
    val p = dir.resolve("corpus.jsonl")
    val w = writer(p)
    val t = writer(dir.resolve("corpus.truth.tsv"))
    try docs.foreach { d =>
      w.write(s"""{"doc_id":${d.id},"text":"${d.text}",""" +
        s""""quality_score":${d.score}}""")
      w.write('\n')
      t.write(s"${d.id}\t${d.chain}\t${d.score}\n")
    } finally { w.close(); t.close() }
    Files.size(p)
  }
}
