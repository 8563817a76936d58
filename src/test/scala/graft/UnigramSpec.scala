package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions
import graft.ops.Unigram

/** Unigram-LM tokenizer (ops.Unigram + org.apache.spark.sql.graft
  * .UnigramViterbi). The seed counts and one Viterbi pass are oracled
  * (t_unigram_seed / t_unigram_viterbi); this spec pins what the oracle
  * can't reach: DP optimality vs brute force, the longest-piece tie rule,
  * uncoverable-word nulls, segmentation validity, the coverage floor,
  * and hard-EM's NLL monotonicity.
  */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def segment(word: String, costs: Map[String, Double],
                      l: Int = 6): Option[(Seq[String], Double)] = {
    val r = Seq(word).toDF("w")
      .select(GraftExtensions.unigramViterbi(col("w"), typedLit(costs), l).as("s"))
      .head()
    if (r.isNullAt(0)) None
    else Some((r.getStruct(0).getSeq[String](0), r.getStruct(0).getDouble(1)))
  }

  /** Brute force: enumerate every segmentation. */
  private def bruteBest(word: String, costs: Map[String, Double],
                        l: Int): Option[Double] = {
    def go(i: Int): Option[Double] =
      if (i == word.length) Some(0.0)
      else (1 to math.min(l, word.length - i)).flatMap { k =>
        costs.get(word.substring(i, i + k))
          .flatMap(c => go(i + k).map(_ + c))
      }.minOption
    if (word.isEmpty) None else go(0)
  }

  test("DP nll equals brute-force enumeration") {
    val rnd = new scala.util.Random(3)
    val alphabet = "abc"
    val pieces = (for {
      len <- 1 to 3
      _ <- 1 to 12
    } yield (0 until len).map(_ => alphabet(rnd.nextInt(3))).mkString).distinct ++
      alphabet.map(_.toString)
    val costs = pieces.map(p => p -> (0.5 + rnd.nextDouble() * 4)).toMap
    for (_ <- 1 to 50) {
      val w = (0 until (1 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(3))).mkString
      val dp = segment(w, costs, 3).map(_._2)
      val bf = bruteBest(w, costs, 3)
      assert(dp.isDefined == bf.isDefined, s"coverage mismatch on $w")
      for (d <- dp; b <- bf) assert(math.abs(d - b) < 1e-9, s"$w: $d vs $b")
    }
  }

  test("DP positions are code points, not UTF-16 chars (non-BMP)") {
    // four U+1F600 emoji = 4 code points, 8 Java chars: the whole-word
    // piece must be matchable under maxPieceLen=6, and the returned
    // pieces must be whole code points
    val e = new String(Character.toChars(0x1F600))
    val word = e * 4
    val costs = Map(word -> 1.0, e -> 3.0)
    val r = segment(word, costs, 6)
    assert(r.map(_._1) == Some(Seq(word)))
    assert(math.abs(r.get._2 - 1.0) < 1e-12)
    // piece cap counted in code points: cap 2 forces e-pair pieces
    val r2 = segment(word, Map((e * 2) -> 1.0, e -> 3.0), 2)
    assert(r2.map(_._1) == Some(Seq(e * 2, e * 2)))
  }

  test("pieces concatenate back to the word and price to nll") {
    val costs = Map("ab" -> 1.0, "a" -> 2.0, "b" -> 2.0, "c" -> 1.5)
    val Some((pieces, nll)) = segment("abcab", costs)
    assert(pieces.mkString == "abcab")
    assert(math.abs(pieces.map(costs).sum - nll) < 1e-12)
    assert(pieces == Seq("ab", "c", "ab"))
  }

  test("exact cost ties prefer the longer piece") {
    // "abab": [abab]=2.0 ties [ab,ab]=2.0 ties [a,b,a,b]=2.0 — longest wins
    val costs = Map("abab" -> 2.0, "ab" -> 1.0, "a" -> 0.5, "b" -> 0.5)
    assert(segment("abab", costs).get._1 == Seq("abab"))
  }

  test("uncoverable words are null, empty word is null") {
    val costs = Map("a" -> 1.0)
    assert(segment("ax", costs).isEmpty)
    assert(segment("", costs).isEmpty)
  }

  test("hard-EM corpus NLL is non-increasing over rounds") {
    val docs = Tablesish.docs(spark)
    val words = Unigram.wordCounts(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def corpusNll(costs: Map[String, Double]): Double =
      Unigram.segmented(words, costs)
        .filter(col("seg").isNotNull)
        .select(sum(col("c") * col("seg.nll"))).head().getDouble(0)
    var vocab = Unigram.seedVocab(words)
    var prev = Double.PositiveInfinity
    for (round <- 1 to 3) {
      val costs = Unigram.pieceCosts(vocab)
      val nll = corpusNll(costs)
      assert(nll <= prev + 1e-6, s"round $round: NLL rose $prev -> $nll")
      prev = nll
      vocab = Unigram.train(docs, "text", rounds = round).select("piece", "n")
    }
    words.unpersist()
  }

  test("coverage floor: single chars survive even when unused by best paths") {
    // "ab" dominates, so chars a/b never appear on a best path; after EM
    // they must still be in the vocab (count floor 1) and "ab"-less words
    // stay segmentable
    val docs = Seq.fill(50)("ab ab ab qab").map(Tuple1(_)).toDF("text")
    val vocab = Unigram.train(docs, "text", rounds = 2)
      .select("piece").as[String].collect().toSet
    assert(vocab.contains("a") && vocab.contains("b") && vocab.contains("q"))
    val costs = Unigram.pieceCosts(
      Unigram.train(docs, "text", rounds = 2).select("piece", "n"))
    assert(segment("qa", costs).isDefined) // needs the floored chars
  }

  test("stored piece table round-trips; encode equals direct per-word segmentation") {
    val docs = Tablesish.docs(spark)
    val trained = Unigram.train(docs, "text", rounds = 2)
    // store/load round trip through parquet: costs from the stored table
    val dir = java.nio.file.Files.createTempDirectory("uni_vocab").toString
    trained.write.mode("overwrite").parquet(dir)
    val loaded = Unigram.pieceCosts(spark.read.parquet(dir).select("piece", "n"))
    val direct = Unigram.pieceCosts(trained.select("piece", "n"))
    assert(loaded.keySet == direct.keySet)
    loaded.foreach { case (p, c) => assert(math.abs(c - direct(p)) < 1e-12) }
    // encodeCorpus piece counts equal per-word DP summed over the doc
    val enc = Unigram.encodeCorpus(docs, "doc_id", "text", loaded)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byWord = docs.select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("word"))
      .filter(col("word") =!= "").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = byWord.groupBy(_._1).map { case (id, ws) =>
      id -> (ws.size.toLong,
        ws.map(w => segment(w._2, loaded).get._1.size.toLong).sum)
    }
    expected.foreach { case (id, (nw, np)) =>
      assert(enc(id)._1 == nw, s"doc $id n_words")
      assert(enc(id)._2 == np, s"doc $id n_pieces")
    }
  }

  test("train emits a deterministic cost table") {
    val docs = Seq.fill(20)("data data table").map(Tuple1(_)).toDF("text")
    val t1 = Unigram.train(docs, "text", rounds = 2)
      .orderBy(col("n").desc, col("piece")).collect().toSeq
    val t2 = Unigram.train(docs, "text", rounds = 2)
      .orderBy(col("n").desc, col("piece")).collect().toSeq
    assert(t1 == t2)
    // costs are -ln(n/total): all positive, and sum of probs <= 1 + eps
    val probs = t1.map(r => math.exp(-r.getDouble(2)))
    assert(probs.forall(p => p > 0 && p <= 1))
    assert(math.abs(probs.sum - 1.0) < 1e-9)
  }
}

/** Tiny deterministic documents-shaped fixture for specs that don't read
  * testdata. */
object Tablesish {
  def docs(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocabWords = Seq("data", "table", "row", "query", "filter", "join",
      "stream", "batch", "window", "agg", "scan", "sort")
    (0 until 200).map { i =>
      val n = 5 + rnd.nextInt(20)
      (i.toLong, (0 until n).map(_ => vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }
}
