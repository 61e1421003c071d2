package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.{QuackIO, SparkEntry, WriteOptions}
import graft.operators.Pipelines

/** Shared helpers of the three workloads. */
object Workloads {
  /** Materialises every row and column through the `noop` sink, the same
    * sink `graft.Bench` times. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fully materialises `df` and returns its fingerprint. */
  def materialise(df: DataFrame,
      canonicalTs: Option[Set[String]] = None): Fingerprint.Fp = {
    val (observed, obs) = Fingerprint.observe(df, canonicalTs)
    noop(observed)
    Fingerprint.read(obs)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))

  def sizeOf(p: Path): Long =
    if (Files.isDirectory(p))
      Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    else Files.size(p)

  /** The seed's permutation of `xs` for pass `pass`. */
  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)
}

/** `catalog`: a fixed slice of the query catalog on generated tables.
  * Each entry is constructed (the entry call: table resolution, eager
  * pins and collects) and then materialised through `noop`, with its
  * row count and hash checked against the fingerprints recorded on the
  * seed tree. The seed permutes the run order of every timed pass; the
  * tables are the same for every seed, so one fingerprint file serves
  * all. */
final class CatalogWorkload(ctx: Ctx) extends Workload {
  import CatalogWorkload._
  import Workloads._

  /** The tables do not depend on the run's seed, so they are generated
    * once per checkout (and generator version) and reused. */
  private val dir = ctx.args.cache.resolve(s"catalog-sf$Sf-seed$DataSeed")
  private val fns = SparkEntry.queries
  private val expected: Map[String, Fingerprint.Fp] =
    if (ctx.args.record) Map.empty else loadFingerprints(ctx.args.fingerprints)
  private val recorded =
    scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def inputs(): Unit = {
    val done = dir.resolve("_DONE")
    if (!Files.exists(done)) {
      deleteTree(dir)
      Files.createDirectories(dir)
      Gen.catalogTables(ctx.spark, dir, Sf, DataSeed)
      Files.createFile(done)
    }
  }

  /** Every entry once, untimed. This pays what a fresh session pays
    * once — JIT, class loading and code generation of every entry — so
    * the timed passes measure the per-query costs every run pays again:
    * table resolution, eager pins and collects, Catalyst, scheduling and
    * execution. Code generation therefore shows in `setup_s`. */
  def warmup(): Unit = Entries.foreach(run)

  def pass(i: Int): Unit =
    shuffled(Entries, ctx.args.seed, i).foreach(run)

  private def run(name: String): Unit =
    ctx.op(name)(fns(name)(ctx.spark, dir.toString)) { (df, rec) =>
      val fp = materialise(df)
      rec.attrs ++= Seq("rows" -> fp.rows, "hash_sum" -> fp.hashSum)
      if (ctx.args.record) {
        recorded(name) = Map("rows" -> fp.rows, "hash_sum" -> fp.hashSum)
        true
      } else expected.get(name).contains(fp)
    }

  def info(): Map[String, Any] = {
    if (ctx.args.record)
      Json.write(ctx.args.fingerprints, Map("sf" -> Sf,
        "data_seed" -> DataSeed, "entries" -> recorded))
    Map("sf" -> Sf, "data_seed" -> DataSeed, "entries" -> Entries)
  }
}

object CatalogWorkload {
  /** Scale factor of the generated tables (lineitem = 6M × Sf rows). */
  val Sf = 0.01
  val DataSeed = 42L
  /** The first entry of the catalog in name order — a projection, sort
    * and limit whose cost is table resolution and scheduling, like most
    * of the catalog — and the four entries with the most jobs before
    * their action (ROADMAP item 2). */
  val Entries = Seq("q01_select_rename_limit", "q108_bpe_tokens_trained",
    "q168_dup_size_dist", "q207_bradley_terry", "q257_edit_join")

  def loadFingerprints(p: Path): Map[String, Fingerprint.Fp] = {
    val m = Json.read(p).get("entries")
      .asInstanceOf[java.util.Map[String, java.util.Map[String, AnyRef]]]
    m.asScala.map { case (k, v) =>
      k -> Fingerprint.Fp(v.get("rows").asInstanceOf[Number].longValue,
        v.get("hash_sum").toString)
    }.toMap
  }
}

/** `curate_release`: `Pipelines.releaseCorpus` over a generated corpus
  * that set-up writes to parquet. Each pass releases the whole corpus
  * into fresh staging and output directories; the planted counts
  * predict the staged and published row counts exactly. There is no
  * warm-up: a release is a batch job, and the first release in a fresh
  * JVM is what its user waits for. */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._
  import Workloads._

  private val root = ctx.work("curate")
  private var planted: Gen.Planted = _

  def inputs(): Unit = {
    val c = Gen.corpus(Docs, ctx.args.seed)
    planted = c.planted
    val s = ctx.spark
    s.createDataFrame(s.sparkContext.parallelize(
        c.docs.map { case (i, t, src) => Row(i, t, src) }, Main.Cores),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType), StructField("source", StringType))))
      .write.parquet(root.resolve("docs").toString)
    s.createDataFrame(s.sparkContext.parallelize(
        c.bench.map { case (i, t) => Row(i, t) }, 1),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
      .write.parquet(root.resolve("bench").toString)
  }

  def warmup(): Unit = ()

  def pass(i: Int): Unit = {
    val out = root.resolve(s"out-$i")
    val staging = root.resolve(s"staging-$i")
    ctx.op("releaseCorpus") {
      (ctx.spark.read.parquet(root.resolve("docs").toString),
        ctx.spark.read.parquet(root.resolve("bench").toString))
    } { case ((docs, bench), rec) =>
      val s = Pipelines.releaseCorpus(docs, "doc_id", "text", "source",
        bench, "doc_id", "text", staging.toString, out.toString,
        repeats = Gen.Repeats, shards = Shards)
      rec.attrs ++= Seq("staged_rows" -> s.nStaged,
        "published_rows" -> s.nPublishedRows,
        "published_files" -> s.nPublishedFiles,
        "expected_staged_rows" -> planted.staged,
        "expected_published_rows" -> planted.published)
      s.nStaged == planted.staged && s.nPublishedRows == planted.published &&
        s.checks.forall(_._5)
    }
    deleteTree(out)
    deleteTree(staging)
  }

  def info(): Map[String, Any] = Map("docs" -> Docs, "shards" -> Shards,
    "planted" -> planted.productElementNames.zip(
      planted.productIterator).toMap)
}

object CurateWorkload {
  val Docs = 3000
  val Shards = 8
}

/** `io_roundtrip`: QuackIO's own surface. Seeded `lineitem` and `orders`
  * rows are written with `writeTable` (CSV, zstd parquet with key/value
  * metadata, NDJSON) and `writeTableDir` (CSV), then read back with
  * `readCsv` (sniffing and inference), `readParquetWithMetadata`,
  * `readJson` and `readCsv` on the directory; every read is fully
  * materialised and must hash like its source. */
final class IoWorkload(ctx: Ctx) extends Workload {
  import IoWorkload._
  import Workloads._

  private val root = ctx.work("io")
  private val src = ctx.work("io-src")
  private var srcFp = Map.empty[String, Fingerprint.Fp]
  private val timestamps = Map("lineitem" -> Set("l_shipdate"),
    "orders" -> Set("o_orderdate"))
  private def kv = Map("producer" -> "perfbench",
    "seed" -> ctx.args.seed.toString)

  /** (format key, table, file name, writer) */
  private val targets: Seq[(String, String, String,
      (DataFrame, String) => Unit)] = Seq(
    ("csv", "lineitem", "lineitem.csv", (df, p) =>
      QuackIO.writeTable(df, p, WriteOptions(header = Some(true)))),
    ("parquet", "lineitem", "lineitem.parquet", (df, p) =>
      QuackIO.writeTable(df, p, WriteOptions(compression = Some("zstd"),
        kvMetadata = kv))),
    ("json", "orders", "orders.json", (df, p) => QuackIO.writeTable(df, p)),
    ("csv_dir", "orders", "orders_dir.csv", (df, p) =>
      QuackIO.writeTableDir(df, p, WriteOptions(header = Some(true)))))

  def inputs(): Unit = {
    Gen.catalogTables(ctx.spark, src, Sf, ctx.args.seed,
      only = Set("lineitem", "orders"), shuffleSeed = Some(ctx.args.seed))
    Seq("lineitem", "orders").foreach { t =>
      srcFp += t -> materialise(ctx.spark.read.parquet(
        src.resolve(s"$t.parquet").toString), Some(timestamps(t)))
    }
  }

  private def path(file: String) = root.resolve(file)

  private def roundTrip(): Unit = {
    targets.foreach { case (key, table, file, writer) =>
      val p = path(file)
      deleteTree(p)
      val srcPath = src.resolve(s"$table.parquet")
      ctx.op(s"write.$key")(
        QuackIO.readParquet(ctx.spark, Seq(srcPath.toString))) { (df, rec) =>
        writer(df, p.toString)
        rec.attrs ++= Seq("file_bytes" -> sizeOf(p),
          "source_bytes" -> Files.size(srcPath))
        Files.exists(p)
      }
    }
    targets.foreach { case (key, table, file, _) =>
      val p = path(file).toString
      val none = Map.empty[String, String]
      // only parquet carries the key/value metadata back
      val wantMeta = if (key == "parquet") kv else none
      ctx.op(s"read.$key")(key match {
        case "parquet" => QuackIO.readParquetWithMetadata(ctx.spark, Seq(p))
        case "json" => (QuackIO.readJson(ctx.spark, Seq(p)), none)
        case _ => (QuackIO.readCsv(ctx.spark, Seq(p)), none)
      }) { case ((df, meta), rec) =>
        val fp = materialise(df, Some(timestamps(table)))
        rec.attrs ++= Seq("rows" -> fp.rows,
          "file_bytes" -> sizeOf(path(file)))
        fp == srcFp(table) &&
          wantMeta.forall { case (k, v) => meta.get(k).contains(v) }
      }
    }
  }

  /** Two round trips: one pass is ~5 s, too short to time alone. */
  override def minPasses: Int = 2
  def warmup(): Unit = roundTrip()
  def pass(i: Int): Unit = roundTrip()

  def info(): Map[String, Any] = Map("sf" -> Sf,
    "source_rows" -> srcFp.map { case (t, f) => t -> f.rows },
    "source_bytes" -> Seq("lineitem", "orders").map(t =>
      t -> Files.size(src.resolve(s"$t.parquet"))).toMap)
}

object IoWorkload {
  /** lineitem = 6M × Sf rows, orders = 1.5M × Sf. */
  val Sf = 0.015
}
