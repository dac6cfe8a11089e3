package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bpe

/** Pins the round-13 RDD BPE round loop (graft.operators.Bpe) against a
  * transparent driver-side reference implementation: same argmax
  * tie-break (count DESC, pair-code ASC), same leftmost-non-overlapping
  * literal rewrite, same hashed surface (merge rows + length/md5 of the
  * encoded corpus). Covers the two semantics corners the rewrite could
  * plausibly change: overlapping pairs ("aaaa" under an "aa" merge) and
  * merged symbols (chr ≥ 128) participating in later rounds. */
class BpeSpec extends AnyFunSuite {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Driver reference: the t51/t52 algorithm verbatim on a Seq. */
  private def refBpe(texts: Seq[(Long, String)], nMerges: Int,
                     alphabet: Int, firstSym: Int)
      : (Seq[(Long, Long)], Seq[(Long, String)]) = {
    var cur = texts.filter(_._2.length >= 2)
    val merges = Seq.newBuilder[(Long, Long)]
    for (r <- 1 to nMerges) {
      val counts = new Array[Long](alphabet * alphabet)
      cur.foreach { case (_, t) =>
        var i = 0
        while (i + 1 < t.length) {
          counts(t.charAt(i).toInt * alphabet + t.charAt(i + 1).toInt) += 1L
          i += 1
        }
      }
      val code = counts.indices.maxBy(i => (counts(i), -i))
      assert(counts(code) > 0, "fixture must keep pairs alive")
      merges += ((-r.toLong, code.toLong))
      val pair = s"${(code / alphabet).toChar.toString}${(code % alphabet).toChar.toString}"
      val sym = (firstSym + r - 1).toChar.toString
      cur = cur.map { case (id, t) => (id, t.replace(pair, sym)) }
    }
    (merges.result(), cur)
  }

  private def check(texts: Seq[(Long, String)], nMerges: Int,
                    alphabet: Int, firstSym: Int): Unit = {
    val s = TestSpark.spark
    import s.implicits._
    val docs = texts.toDF("doc_id", "text")
    val got = Bpe.train(docs, "text", "doc_id", nMerges, alphabet, firstSym)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    val (merges, enc) = refBpe(texts, nMerges, alphabet, firstSym)
    val want = (merges.map { case (id, v) => (id, v, "") } ++
      enc.map { case (id, t) => (id, t.length.toLong, md5hex(t)) })
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("ASCII corpus, 6 merges, matches the reference loop (t51 shape)") {
    val texts = Seq[(Long, String)](
      (0L, "the cat sat on the mat"),
      (1L, "the thin cat ate the hen"),
      (2L, "x"), // dropped: shorter than 2
      (3L, "aaaa aaa aa"), // overlapping-pair corner
      (4L, "then the thesis"),
      (5L, "  double  spaces  "))
    check(texts, nMerges = 6, alphabet = 128, firstSym = 1)
  }

  test("merged symbols above 127 participate in later rounds (t52 shape)") {
    // force re-merges: a highly repetitive corpus makes round k+1's best
    // pair contain round k's merged chr(128+k-1) symbol
    val texts = Seq[(Long, String)](
      (0L, "abab abab abab"),
      (1L, "ababab ababab"),
      (2L, "abc abc abc abc"),
      (3L, "aabb aabb aabb"))
    check(texts, nMerges = 8, alphabet = 256, firstSym = 128)
  }

  test("round 14: sub-threshold driver loop equals the distributed RDD " +
      "loop exactly (the t51/t52 hashed surface)") {
    val s = TestSpark.spark
    import s.implicits._
    val texts = (0L until 40L).map(i =>
      (i, ("abcdabcdbcda" * (3 + (i % 5)).toInt) + ("aab" * (i % 3).toInt)))
    val docs = texts.toDF("doc_id", "text")
    def run(): Seq[(Long, Long, String)] =
      Bpe.train(docs, "text", "doc_id", 6, 256, 128).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2))
    val local = run() // default gate: corpus is tiny, driver loop
    val dist = try {
      s.conf.set("spark.graft.localMaxBytes", "0")
      run()
    } finally s.conf.unset("spark.graft.localMaxBytes")
    assert(local === dist)
  }

  test("partition-invariant: 1 vs 7 partitions, same surface") {
    val s = TestSpark.spark
    import s.implicits._
    val texts = (0 until 40).map(i =>
      (i.toLong, ("abcdab" * (i % 5 + 1)) + i.toString))
    val one = Bpe.train(texts.toDF("doc_id", "text").repartition(1),
      "text", "doc_id", 5, 128, 1).collect().map(_.toSeq).toSet
    val many = Bpe.train(texts.toDF("doc_id", "text").repartition(7),
      "text", "doc_id", 5, 128, 1).collect().map(_.toSeq).toSet
    assert(one == many)
  }
}
