package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("graftbench-gen")

  private def keyedFiles(seed: Long, dir: Path): Seq[Array[Byte]] = {
    val r = new SplittableRandom(seed)
    val st = Gen.baseState(r, 500)
    Gen.writeBatch(r, dir, "base", st.ids.sorted.map(st.byId).toSeq)
    val mix = Gen.Mix(0.3, 0.1, 0.15, 0.3, 20, 0.3)
    (0 until 3).foreach { i =>
      val (rows, _) = Gen.batch(r, st, 200, mix)
      Gen.writeBatch(r, dir, s"batch$i", rows)
    }
    Seq("base", "batch0", "batch1", "batch2").flatMap(n => Seq(
      Files.readAllBytes(dir.resolve(s"$n.csv")),
      Files.readAllBytes(dir.resolve(s"$n.truth.tsv"))))
  }

  test("the same seed writes byte-identical keyed inputs") {
    val a = keyedFiles(42L, tmp())
    val b = keyedFiles(42L, tmp())
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    val c = keyedFiles(43L, tmp())
    assert(!java.util.Arrays.equals(a.head, c.head))
  }

  test("the same seed writes a byte-identical corpus") {
    def files(seed: Long): Seq[Array[Byte]] = {
      val d = tmp()
      Gen.writeCorpus(d, Gen.corpus(new SplittableRandom(seed), 300, 20)._1)
      Seq("corpus.jsonl", "corpus.truth.tsv")
        .map(n => Files.readAllBytes(d.resolve(n)))
    }
    files(5L).zip(files(5L)).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x, y))
    }
  }

  test("a batch follows its mix and reports the index values it touches") {
    val r = new SplittableRandom(1L)
    val st = Gen.baseState(r, 1000)
    val before = st.byId.clone()
    val mix = Gen.Mix(insertShare = 0.5,
      unchangedShare = 0.0, dupShare = 0.0, hotShare = 0.0, hotKeys = 0,
      refChange = 1.0)
    val (rows, touched) = Gen.batch(r, st, 400, mix)
    // Exactly half the rows insert a new key (updates may then hit it).
    assert(st.byId.size - before.size == 200)
    // Every row changes its ref: an insert touches one value, an update
    // two (old and new), repeated keys only count once.
    val keys = rows.map(_.id).distinct
    val want = keys.flatMap(k =>
      before.get(k).map(_.ref).toSeq :+ st.byId(k).ref).distinct.size
    assert(touched == want)
    assert(rows.forall(x => st.byId.contains(x.id)))
  }

  test("every seed's batches touch nearly the same number of index values") {
    val mix = Gen.Mix(0.3, 0.1, 0.15, 0.3, 50, 0.3)
    val counts = (1L to 20L).flatMap { seed =>
      val r = new SplittableRandom(seed)
      val st = Gen.baseState(r, 5000)
      (0 until 2).map(_ => Gen.batch(r, st, 40, mix)._2)
    }
    // 12 inserts + 18 updated keys + 5 of them with a new ref.
    assert(counts.max <= 35)
    assert(counts.min >= 33)
  }

  test("corpus chains are planted as consecutive near-duplicate pairs") {
    val (docs, planted) = Gen.corpus(new SplittableRandom(3L), 400, 15)
    assert(docs.size == 400)
    assert(docs.map(_.id).distinct.size == 400)
    val chainOf = docs.map(d => d.id -> d.chain).toMap
    assert(planted.nonEmpty)
    assert(planted.forall { case (a, b) => chainOf(a) == chainOf(b) })
    // n docs in c chains plant n - c pairs.
    assert(planted.size == docs.size - docs.map(_.chain).distinct.size)
    assert(docs.groupBy(_.chain).values.map(_.size).max <= 15)
  }
}
