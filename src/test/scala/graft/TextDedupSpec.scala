package graft

import graft.ops.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Semantics of the training-data-pipeline ops: tokenization invariants,
  * dedup properties (LSH recall on true dups, simhash stability), ANN
  * correctness vs brute force.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the fast join merge table scan", "s0"),
    (2L, "the fast join merge table scan", "s0"),      // exact dup of 1
    (3L, "the fast join merge table scans", "s0"),     // near dup of 1
    (4L, "data value stream batch group sort", "s1"),
    (5L, "slow big small row column hash", "s1"),
    (6L, "a", "s2")).toDF("doc_id", "text", "source")

  test("tokenize: input_hint shape, n_tok == |tokens|, deterministic word ids") {
    val t = TextOps.tokenize(docs).collect()
    assert(t.forall(r => r.getAs[scala.collection.Seq[Int]]("tokens").length == r.getAs[Int]("n_tok")))
    val m = t.map(r => r.getString(0) -> r.getAs[scala.collection.Seq[Int]]("tokens")).toMap
    assert(m("1") == m("2"), "identical text -> identical token arrays")
    assert(m("1") != m("4"))
    // same word anywhere -> same token id ('the' appears at pos 0 of doc1)
    assert(m("1").head == TextOps.tokenize(
      Seq((9L, "the", "x")).toDF("doc_id", "text", "source"))
      .collect().head.getAs[scala.collection.Seq[Int]]("tokens").head)
  }

  test("exact dedup marks canonical min-id per group") {
    val r = Dedup.exact(docs, "doc_id", "md5(text)")
      .select("doc_id", "group_size", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(r.contains((1L, 2L, true)) && r.contains((2L, 2L, false)))
    assert(r.filter(_._1 > 2).forall(x => x._2 == 1L && x._3))
  }

  test("minhash LSH finds exact and near dups as candidates") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", 5, 8, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must collide on every band")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near dup should collide on some band")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L && p._1 == 4L),
      "unrelated tiny doc should not pair with everything")
  }

  test("fused minhash signatures == declarative distinct-shingle spec (incl. short/empty/NON-ASCII text)") {
    // non-ASCII rows exercise the codepoint fallback: byte-offset shingles
    // would differ from the spec's substring (character) shingles
    val edge = docs.select("doc_id", "text")
      .unionByName(Seq((100L, ""), (101L, "abc"), (102L, "abcd!"),
        (103L, "héllo wörld ünicode café"),
        (104L, "日本語のテキストです"),
        (105L, "mixed ascii und Ümläute here"))
        .toDF("doc_id", "text"))
    val spec = Dedup.minHashSignatures(Dedup.shingles(edge, "doc_id", "text", 5), "doc_id", 8)
      .collect().map(_.toSeq).toSet
    val fused = Dedup.minHashSignaturesFused(edge, "doc_id", "text", 5, 8)
      .collect().map(_.toSeq).toSet
    assert(fused == spec)
  }

  test("simhash: identical docs get identical signatures; signature in [0, 2^16)") {
    val s = Dedup.simHash(docs, "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    assert(s(1L) == s(2L))
    assert(s.values.forall(v => v >= 0 && v < 65536))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(s(1L), s(3L)) <= ham(s(1L), s(5L)),
      "near dup should be at most as far as unrelated doc")
  }

  test("jaccard pairs: exact intersection/union within blocks") {
    val r = Dedup.jaccardPairs(docs, "doc_id", "text",
      "md5(concat_ws(' ', slice(split(text, ' '), 1, 2)))")
      .select("da", "db", "inter", "unn")
      .as[(Long, Long, Long, Long)].collect().toSet
    // docs 1,2,3 share block 'the fast'; 1∩2=6/6, 1∩3: 5 shared of 7 union
    assert(r.contains((1L, 2L, 6L, 6L)))
    assert(r.contains((1L, 3L, 5L, 7L)))
  }

  test("brute-force knn matches a local oracle") {
    val vecs = (0 until 30).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(rnd.nextFloat()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.cosineKnnBrute(df, "vec_id", "embedding", "vec_id % 10 = 0", 3)
      .select("qid", "rank", "nid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._2).map(_._3).toSeq }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    for (q <- Seq(0L, 10L, 20L)) {
      val exp = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q.toInt)._2, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      assert(got(q) == exp, s"query $q")
    }
  }

  test("LSH knn returns a subset ranking consistent with brute force within bucket") {
    val vecs = (0 until 200).map { i =>
      val rnd = new scala.util.Random(i * 7)
      (i.toLong, Array.fill(64)(rnd.nextFloat()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val lsh = Similarity.cosineKnnLshBanded(df, "vec_id", "embedding", "vec_id % 40 = 0", 3,
      bandBits = 8, nBands = 1, dim = 64)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val brute = Similarity.cosineKnnBrute(df, "vec_id", "embedding", "vec_id % 40 = 0", 200)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.nonEmpty)
  }

  test("quality + langid + fingerprint are deterministic across partitionings") {
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => TextOps.quality(d), d => TextOps.langId(d), d => TextOps.fingerprint(d))) {
      val a = op(docs).collect().map(_.toSeq).toSet
      val b = op(docs.repartition(5)).collect().map(_.toSeq).toSet
      assert(a == b)
    }
  }
}
