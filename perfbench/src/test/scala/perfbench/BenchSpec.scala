package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pipelines

/** Self-tests of the benchmark's own machinery: fingerprints that ignore
  * row order, and a corpus generator whose planted counts are what
  * `releaseCorpus` reports. Run with `sbt test` in this directory. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession
    .builder("local[2]", "perfbench-spec", 2)
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fp(df: org.apache.spark.sql.DataFrame,
      ts: Option[Set[String]] = None) = Workloads.materialise(df, ts)

  test("fingerprints do not change with row order or partitioning") {
    val base = spark.range(0, 5000).select(col("id"),
      (col("id") % 7).cast("string").as("s"),
      (col("id") / 3.0).as("d"),
      array(col("id"), col("id") + 1).as("a"))
    val a = fp(base)
    val b = fp(base.orderBy(desc("id")).repartition(7))
    val c = fp(base.orderBy(xxhash64(col("id"), lit(17))).coalesce(1))
    assert(a == b && b == c, s"$a $b $c")
    assert(a.rows == 5000)
  }

  test("fingerprints see a changed value, a lost row and a duplicate") {
    val base = spark.range(0, 1000).toDF("id")
    val a = fp(base)
    assert(fp(base.withColumn("id", when(col("id") === 5, 6)
      .otherwise(col("id")))) != a)
    assert(fp(base.filter(col("id") =!= 5)) != a)
    assert(fp(base.union(spark.range(5, 6).toDF("id"))) != a)
  }

  test("canonical fingerprints match a table and its text round trip") {
    val dir = Files.createTempDirectory("perfbench-spec")
    val df = spark.range(0, 300).select(col("id"), (col("id") * 0.25).as("x"),
      (col("id") % 5).cast("string").as("s"),
      expr("timestamp_ntz'2001-02-03 04:05:06' + make_interval(0, 0, 0, " +
        "cast(id as int), 0, 0, 0)").as("t"))
    val src = fp(df, Some(Set("t")))
    graft.QuackIO.writeTable(df, dir.resolve("t.csv").toString)
    graft.QuackIO.writeTable(df, dir.resolve("t.json").toString)
    val csv = fp(graft.QuackIO.readCsv(spark,
      Seq(dir.resolve("t.csv").toString)), Some(Set("t")))
    val json = fp(graft.QuackIO.readJson(spark,
      Seq(dir.resolve("t.json").toString)), Some(Set("t")))
    assert(src == csv && src == json, s"$src $csv $json")
    Workloads.deleteTree(dir)
  }

  test("the corpus generator is seeded and its planted counts add up") {
    val c = Gen.corpus(400, 7)
    assert(c == Gen.corpus(400, 7))
    assert(c.docs != Gen.corpus(400, 8).docs)
    val p = c.planted
    assert(p.staged == p.docs - p.gateShort - p.gateNoStop - p.exactDups -
      p.contaminated)
    Seq(p.gateShort, p.gateNoStop, p.exactDups, p.contaminated,
      p.boilerplateDocs).foreach(n => assert(n > 0, p))
    assert(c.bench.size == p.benchPassages)
  }

  test("releaseCorpus stages and publishes exactly the planted counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("perfbench-spec")
    val c = Gen.corpus(400, 11)
    val s = Pipelines.releaseCorpus(
      c.docs.toDF("doc_id", "text", "source"), "doc_id", "text", "source",
      c.bench.toDF("doc_id", "text"), "doc_id", "text",
      dir.resolve("staging").toString, dir.resolve("out").toString,
      repeats = Gen.Repeats, shards = 2)
    assert(s.nStaged == c.planted.staged, c.planted)
    assert(s.nPublishedRows == c.planted.published, c.planted)
    Workloads.deleteTree(dir)
  }
}
