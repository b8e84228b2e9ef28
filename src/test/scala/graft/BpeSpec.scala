package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** BPE tokenizer pins: the hand-computed ACL'16 training example,
  * deterministic tie-breaks, and the codegen'd kernel path against
  * the driver-side encoder on real documents. */
class BpeSpec extends SparkSpec {

  // Sennrich et al. 2016 §3.2 example corpus
  private val freqs = Map(
    "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("train: the ACL'16 example learns (e,s),(es,t),(est,</w>),(l,o),(lo,w)") {
    val merges = Bpe.train(freqs, 5)
    assert(merges === Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("encodeWord: 'lowest' segments as low + est</w> (unseen word, learned subwords)") {
    val ranks = Bpe.parseRanks(Bpe.render(Bpe.train(freqs, 5)))
    assert(Bpe.encodeWord("lowest", ranks) === List("low", "est</w>"))
    // fully-merged training word
    assert(Bpe.encodeWord("low", Bpe.parseRanks(Bpe.render(Bpe.train(freqs, 10))))
      .head.startsWith("low"))
    // word with no learned merges stays character-split
    assert(Bpe.encodeWord("zq", ranks) === List("z", "q", "</w>"))
  }

  test("render/parseRanks round-trips rank order") {
    val merges = Bpe.train(freqs, 5)
    val ranks = Bpe.parseRanks(Bpe.render(merges))
    merges.zipWithIndex.foreach { case (p, i) => assert(ranks(p) === i) }
  }

  test("kernel: bpe_token_count and bpe_encode are SQL-callable and match the driver encoder") {
    graft.GraftFunctions.register(spark)
    val spec = Bpe.render(Bpe.train(freqs, 5))
    val r = spark.sql(
      s"SELECT bpe_token_count('lowest', '$spec') AS n, bpe_encode('lowest', '$spec') AS t")
      .head()
    assert(r.getLong(0) === 2L)
    assert(r.getSeq[String](1) === Seq("low", "est</w>"))
  }

  test("a word's unmerged end-of-word marker is no token: n_words <= tokens <= characters") {
    graft.GraftFunctions.register(spark)
    // 8 words, 33 alphanumeric characters; under these merges no word's
    // last symbol joins the marker, which once counted 41 tokens
    val doc = "group table a big the vector table group"
    val words = doc.split(' ').length.toLong
    val chars = doc.count(_.isLetterOrDigit).toLong
    for (spec <- Seq("", Bpe.render(Bpe.train(freqs, 5)),
        Bpe.render(Bpe.train(doc.split(' ').groupMapReduce(identity)(_ => 1L)(_ + _), 12)))) {
      val n = spark.sql(s"SELECT bpe_token_count('$doc', '$spec') AS n").head().getLong(0)
      assert(n === Bpe.tokenCount(doc, spec))
      assert(words <= n && n <= chars, s"$n tokens under '$spec'")
      val toks = Bpe.encode(doc, spec)
      assert(toks.length.toLong === n)
      assert(!toks.contains(Bpe.Eow), toks.mkString(","))
    }
    assert(Bpe.tokenCount(doc, "") === chars)
  }

  test("corpus: codegen kernel output equals the driver-side encoder on sf0.001 documents") {
    graft.GraftFunctions.register(spark)
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val sample = docs.orderBy(col("doc_id")).limit(32)
      .select(col("text")).collect().map(_.getString(0))
    val wf = sample.toSeq
      .flatMap(_.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val spec = Bpe.render(Bpe.train(wf, 32))
    val got = docs
      .select(col("doc_id"), col("text"),
        expr(s"bpe_encode(text, '$spec')").as("toks"),
        expr(s"bpe_token_count(text, '$spec')").as("n"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val expected = Bpe.encode(row.getString(1), spec).toSeq
      assert(row.getSeq[String](2) === expected, s"doc ${row.getLong(0)}")
      assert(row.getLong(3) === expected.size.toLong)
    }
    // subword counts can never undercut word counts
    got.foreach { row =>
      val words = row.getString(1).toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").count(_.nonEmpty)
      assert(row.getLong(3) >= words.toLong)
    }
  }
}
