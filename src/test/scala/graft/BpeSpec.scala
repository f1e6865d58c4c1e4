package graft

/** BPE tokenizer learning/encoding: value-level pins for the learned
  * (oracle-less) q116/q117 surface. The reference recompute here is an
  * INDEPENDENT implementation (sliding-window pair counts, recursive
  * first-occurrence merge) so a shared bug can't self-confirm. */
class BpeSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  // --- independent local BPE (different code path from Bpe.learnLocal) ---
  private def mergeRec(s: Vector[String], l: String, r: String): Vector[String] = {
    val j = s.indices.dropRight(1).find(i => s(i) == l && s(i + 1) == r)
    j match {
      case None => s
      case Some(i) => (s.take(i) :+ (l + r)) ++ mergeRec(s.drop(i + 2), l, r)
    }
  }

  private def learnRef(wc: Map[String, Long], n: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var words: Seq[(Vector[String], Long)] =
      wc.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    (0L until n).flatMap { rank =>
      val pairs = words.flatMap { case (sym, c) =>
        sym.sliding(2).filter(_.size == 2).map(p => (p(0), p(1)) -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (pairs.isEmpty) None
      else {
        val ((l, r), c) = pairs.sortBy { case ((l, r), c) => (-c, l, r) }.head
        words = words.map { case (sym, cnt) => (mergeRec(sym, l, r), cnt) }
        Some((rank, l, r, l + r, c))
      }
    }
  }

  private def localWordCounts: Map[String, Long] =
    Tables.documents(spark, d).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("learned merge table matches the independent local recompute") {
    val got = Bpe.bpeVocab(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    val expect = learnRef(localWordCounts, Bpe.NMerges)
    assert(got == expect && got.nonEmpty)
  }

  test("warm path relearns nothing and is deterministic") {
    val first = Bpe.bpeVocab(spark, d).collect().map(_.toSeq).toSeq
    val before = SaltedIndex.builds("bpe")
    val second = Bpe.bpeVocab(spark, d).collect().map(_.toSeq).toSeq
    assert(SaltedIndex.builds("bpe") == before, "warm bpeVocab re-ran the merge learn")
    assert(first == second)
  }

  test("encoding round-trips every distinct word and respects rank order") {
    val merges = Bpe.bpeVocab(spark, d).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val words = localWordCounts.keySet
    words.foreach { w =>
      val enc = Bpe.encodeWord(w, merges)
      assert(enc.mkString == w, s"round trip broke for '$w': $enc")
      assert(enc.nonEmpty || w.isEmpty)
    }
  }

  test("per-doc encode stats match a full local recompute") {
    val merges = Bpe.bpeVocab(spark, d).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = scala.collection.mutable.HashMap[String, Long]()
    def pieces(w: String): Long =
      enc.getOrElseUpdate(w, Bpe.encodeWord(w, merges).length.toLong)
    val expect = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map { r =>
        val ws = r.getString(1).split(" ", -1)
        val nw = ws.length.toLong
        val nb = ws.map(pieces).sum
        val nc = ws.map(_.length.toLong).sum
        (r.getLong(0), nw, nb, nc, nb * 1000L / nw, nc * 1000L / nb)
      }.sortBy(_._1).toSeq
    val got = Bpe.bpeEncode(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect && got.nonEmpty)
    // structural bounds: ≥1 piece per word; pieces exceed chars only by
    // the one-piece floor of empty tokens (≤ one per word)
    got.foreach { case (_, nw, nb, nc, _, _) =>
      assert(nb >= nw && nb <= nc + nw)
    }
  }

  test("empty tokens are total: one empty piece, no divide-by-zero") {
    val merges = Bpe.bpeVocab(spark, d).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(Bpe.encodeWord("", merges) == List(""))
    // "a  b" splits to ["a", "", "b"] under the keep-empty tokenizer:
    // 3 words, 3 pieces, 2 chars — the stats stay defined
    val ws = "a  b".split(" ", -1)
    assert(ws.length == 3)
    assert(ws.map(w => Bpe.encodeWord(w, merges).length.toLong).sum == 3L)
  }
}
