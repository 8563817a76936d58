package graft

import graft.core.Measure
import graft.ops.Text

/** The persist contract of the operator library: an operator may cache
  * what its own plan reads more than once and returns only a
  * DataFrame; [[Measure.releaseAll]] is the one release. */
class PersistContractSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "some fairly long distinctive document body with many words in it"),
    (2L, "prefix edit some fairly long distinctive document body with many words in it"),
    (3L, "totally unrelated content about spark catalyst plans here"))
    .toDF("id", "text")

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("winnowPairs caches its fingerprint stream until Measure.releaseAll") {
    Measure.releaseAll(spark)
    assert(cacheEmpty)
    assert(Measure.consume(Text.winnowPairs(docs, "id", "text",
      k = 5, w = 4, maxDf = 10, minShared = 2)) > 0)
    assert(!cacheEmpty, "winnowPairs must persist its (id, fp) stream")
    Measure.releaseAll(spark)
    assert(cacheEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a trainer's scoped cache leaves its caller's cache of the same table in place") {
    Measure.releaseAll(spark)
    // Unigram.train caches the word table for its rounds; a caller that
    // already cached the same table keeps it after train returns
    val words = graft.ops.Unigram.wordCounts(docs, "text").persist()
    graft.ops.Unigram.train(docs, "text", rounds = 1).collect()
    assert(words.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "train must release only the cache it made")
    Measure.releaseAll(spark)
  }

  test("bigramNll caches nothing") {
    Measure.releaseAll(spark)
    assert(Measure.consume(Text.bigramNll(docs, "id", "text")) > 0)
    assert(cacheEmpty)
  }
}
