package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Trained BPE: merge learning (frequency argmax with deterministic
  * tie-break), the left-to-right single-pass merge-application semantics,
  * encode/count agreement, and the persisted-artifact roundtrip. */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  private def encode(text: String, merges: Seq[Bpe.Merge]): Seq[String] =
    docs(text).select(Bpe.encode(col("text"), merges).as("e"))
      .as[Seq[String]].head()

  test("lossless: concatenated subword tokens reconstruct every document") {
    // the tokenizer invariant training data depends on — encoding loses
    // nothing, whatever merges were learned
    val rnd = new scala.util.Random(13)
    val corpus = (1 to 30).map(_ =>
      Seq.fill(8)("abcde".substring(0, 1 + rnd.nextInt(4)) * (1 + rnd.nextInt(3)))
        .mkString(" "))
    val merges = Bpe.train(docs(corpus: _*), "text", numMerges = 6)
    val out = docs(corpus: _*)
      .select(col("text"),
        array_join(Bpe.encode(col("text"), merges), "").as("cat"),
        regexp_replace(col("text"), " ", "").as("nospace"))
      .where(col("cat") =!= col("nospace"))
    assert(out.count() == 0, "a document failed the round trip")
  }

  test("training learns the most frequent pair first") {
    // "aa" ×2 and "ab" ×1: pair (a,a) has count 2, (a,b) count 1
    val merges = Bpe.train(docs("aa aa ab"), "text", numMerges = 2)
    assert(merges == Seq(Bpe.Merge("a", "a"), Bpe.Merge("a", "b")))
  }

  test("training releases every word table it materialized") {
    // train returns merges, not a frame: no table it built is read later
    val left = persistedBy {
      assert(Bpe.train(docs("aa aa ab abc"), "text", numMerges = 3).size == 3)
    }
    assert(left.isEmpty, s"train left ${left.size} persisted RDDs behind")
  }

  test("merge application is one left-to-right non-overlapping pass") {
    val m = Seq(Bpe.Merge("a", "a"))
    // aaa -> [aa, a], aaaa -> [aa, aa]: the leftmost pair merges first and
    // a consumed symbol cannot re-pair
    assert(encode("aaa", m) == Seq("aa", "a"))
    assert(encode("aaaa", m) == Seq("aa", "aa"))
  }

  test("later merges build on earlier ones in rank order") {
    val m = Seq(Bpe.Merge("a", "a"), Bpe.Merge("aa", "b"))
    assert(encode("aab", m) == Seq("aab"))
    assert(encode("ab", m) == Seq("a", "b"))
  }

  test("countTokens equals the encoded token count") {
    val corpus = docs("the theme there then", "other theory breathe")
    val merges = Bpe.train(corpus, "text", numMerges = 6)
    val got = corpus.select(col("doc_id"),
      Bpe.countTokens(col("text"), merges).as("n"),
      size(Bpe.encode(col("text"), merges)).cast("long").as("ne"))
      .as[(Long, Long, Long)].collect()
    assert(got.forall(r => r._2 == r._3))
    // merges actually compress: fewer tokens than characters
    val chars = corpus.select(
      sum(length(replace(col("text"), lit(" "), lit("")))).cast("long"))
      .as[Long].head()
    assert(got.map(_._2).sum < chars)
  }

  test("training is deterministic and the artifact roundtrips") {
    val corpus = docs("low lower lowest", "low slow slower")
    val a = Bpe.train(corpus, "text", numMerges = 5)
    val b = Bpe.train(corpus, "text", numMerges = 5)
    assert(a == b)
    val path = java.nio.file.Files.createTempDirectory("bpe").toFile
      .getAbsolutePath + "/merges"
    Bpe.save(spark, path, a)
    assert(Bpe.load(spark, path) == a)
  }

  test("a corpus too small for the requested merges fails loudly") {
    intercept[IllegalArgumentException](
      Bpe.train(docs("a b c"), "text", numMerges = 3))
  }

  test("encodeIds: ids decode back to the exact subword stream") {
    val corpus = docs("the theme there then", "other theory breathe")
    val merges = Bpe.train(corpus, "text", numMerges = 6)
    val v = Bpe.vocab(corpus, "text", merges)
      .as[(String, Long)].collect().toMap
    // ids are dense 0..V-1 and the mapping is injective
    assert(v.values.toSet == (0L until v.size).toSet)
    val back = v.map(_.swap)
    val ids = Bpe.encodeIds(corpus, "doc_id", "text", merges)
      .as[(Long, Seq[Long])].collect().toMap
    val syms = corpus.select(col("doc_id"),
        Bpe.encode(col("text"), merges).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(ids.keySet == syms.keySet)
    ids.foreach { case (d, arr) =>
      assert(arr.map(back) == syms(d), s"doc $d id stream mismatch")
    }
    // deterministic under repartitioning
    val again = Bpe.encodeIds(corpus.repartition(5), "doc_id", "text", merges)
      .as[(Long, Seq[Long])].collect().toMap
    assert(again == ids)
  }
}
