package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The X = 2 scale fixture of the smoke sf, written once per JVM and
  * shared by the specs that run on it. */
object ScaleFixtures {
  /** The smoke sf directory: `SPARK_GRAFT_SF_DIR`, else the directory the
    * flagship [[SparkEntry.entry]] query scans ("" when it cannot). */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    scala.util.Try(new java.io.File(new java.net.URI(
      SparkEntry.entry(SparkSpec.session).inputFiles.head).getPath).getParent)
      .getOrElse(""))

  lazy val x2: String = {
    val out = java.nio.file.Files.createTempDirectory("scalefix").toString
    ScaleFixture.write(SparkSpec.session, sfDir, out, 2)
    s"$out/x2"
  }
}

/** [[ScaleFixture]] layout: `<out>/x<X>/<table>.parquet` for every base
  * table, fact tables as X key-shifted copies, dimensions unchanged, and
  * fact-to-fact keys still joinable. */
class ScaleFixtureSpec extends SparkSpec {
  import ScaleFixtures.sfDir

  private def base(name: String): DataFrame = core.Tables(spark, sfDir, name)
  private def fix(name: String): DataFrame =
    core.Tables(spark, ScaleFixtures.x2, name)

  test("fact tables hold 2x the rows with distinct keys per copy") {
    assume(new java.io.File(sfDir).exists, s"smoke testdata missing at $sfDir")
    ScaleFixture.factKeys.foreach { case (name, key) =>
      val b = base(name).agg(count(lit(1)), countDistinct(col(key))).head()
      val f = fix(name).agg(count(lit(1)), countDistinct(col(key))).head()
      assert(f.getLong(0) == 2 * b.getLong(0), s"$name rows")
      assert(f.getLong(1) == 2 * b.getLong(1), s"$name distinct $key")
    }
    // label blocks of the two copies stay apart
    def labels(df: DataFrame) = df.select(countDistinct("label")).head().getLong(0)
    assert(labels(fix("embeddings")) == 2 * labels(base("embeddings")))
  }

  test("dimension tables equal their source") {
    assume(new java.io.File(sfDir).exists, s"smoke testdata missing at $sfDir")
    core.Tables.names.filterNot(ScaleFixture.factKeys.contains).foreach { name =>
      val (b, f) = (base(name), fix(name))
      assert(f.count() == b.count(), s"$name rows")
      assert(f.exceptAll(b).isEmpty && b.exceptAll(f).isEmpty, s"$name rows differ")
    }
  }

  test("fact-to-fact joins give exactly 2x the base join count") {
    assume(new java.io.File(sfDir).exists, s"smoke testdata missing at $sfDir")
    def ordersLines(t: String => DataFrame) = t("orders")
      .join(t("lineitem"), col("o_orderkey") === col("l_orderkey")).count()
    def docsVecs(t: String => DataFrame) = t("documents")
      .join(t("embeddings"), col("doc_id") === col("vec_id")).count()
    val (ol, dv) = (ordersLines(base), docsVecs(base))
    assert(ol > 0 && dv > 0, "base joins must match rows")
    assert(ordersLines(fix) == 2 * ol)
    assert(docsVecs(fix) == 2 * dv)
  }

  test("every ScaleCheck name is a registry query that builds on the fixture") {
    assume(new java.io.File(sfDir).exists, s"smoke testdata missing at $sfDir")
    val unknown = ScaleCheck.scaleSet.filterNot(queries.Registry.queries.contains)
    assert(unknown.isEmpty, s"not in Registry.queries: $unknown")
    assert(ScaleCheck.scaleSet.distinct == ScaleCheck.scaleSet)
    ScaleCheck.scaleSet.foreach { n =>
      try assert(queries.Registry.byName(n)(spark, ScaleFixtures.x2)
        .schema.nonEmpty, n)
      finally core.Measure.releaseAll(spark)
    }
  }
}
