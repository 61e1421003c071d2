package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program reads in a run is
  * made here; the same seed gives byte-identical rows.
  *
  *  - [[catalogTables]]: the ten tables the catalog entries read, with
  *    the schemas, key ranges and value ranges of the repository's
  *    fixtures (TPC-H-style star schema, `events`, `documents`,
  *    `embeddings`), sized by a scale factor.
  *  - [[corpus]]: a curation corpus with planted counts of docs every
  *    stage of `Pipelines.releaseCorpus` must remove.
  */
object Gen {

  // ------------------------------------------------------------ catalog

  final case class Sizes(customer: Int, supplier: Int, part: Int,
      orders: Int, lineitem: Int, events: Int, users: Int,
      documents: Int, embeddings: Int)

  /** Row counts at scale factor `sf`, following the fixtures (which hold
    * 500 documents and embeddings at every scale up to sf 0.01). */
  def sizes(sf: Double): Sizes = {
    def n(base: Double, min: Int) = math.max(min, math.round(base * sf).toInt)
    Sizes(customer = n(150000, 10), supplier = n(10000, 5),
      part = n(200000, 10), orders = n(1500000, 100),
      lineitem = n(6000000, 400), events = n(1000000, 100),
      users = n(15000, 10), documents = n(50000, 500),
      embeddings = n(20000, 500))
  }

  private val Regions =
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = Seq("small", "large", "red", "blue", "hot", "cold",
    "old", "new")
  private val PartNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate",
    "ring", "rod", "widget")
  private val PartTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  /** The fixtures' document vocabulary. */
  private val DocWords = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Seq("en" -> 0.5, "de" -> 0.125, "es" -> 0.125,
    "fr" -> 0.125, "zh" -> 0.125)

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    r.nextLong(lo, hi + 1) / 100.0
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T =
    xs(r.nextInt(xs.size))
  private def day(r: SplittableRandom, from: LocalDateTime,
      to: LocalDateTime): LocalDateTime =
    from.plusDays(r.nextLong(java.time.Duration.between(from, to).toDays + 1))

  /** Writes `<dir>/<table>.parquet` (single files, like the fixtures) for
    * every table the catalog reads, or for those in `only`; with a
    * `shuffleSeed` the rows are written in that seed's order. Returns
    * the table names. */
  def catalogTables(spark: SparkSession, dir: Path, sf: Double,
      seed: Long, only: Set[String] = Set.empty,
      shuffleSeed: Option[Long] = None): Seq[String] = {
    val z = sizes(sf)
    val root = new SplittableRandom(seed)
    def rnd() = root.split()
    val i = IntegerType; val l = LongType; val d = DoubleType
    val s = StringType; val ts = TimestampNTZType
    def schema(fs: (String, DataType)*) =
      StructType(fs.map { case (n, t) => StructField(n, t) })
    val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val tables: Seq[(String, StructType, () => Seq[Row])] = Seq(
      ("region", schema("r_regionkey" -> i, "r_name" -> s),
        () => Regions.zipWithIndex.map { case (n, k) => Row(k, n) }),
      ("nation", schema("n_nationkey" -> i, "n_name" -> s,
          "n_regionkey" -> i),
        () => (0 until 25).map(k => Row(k, s"NATION_$k", k % 5))),
      { val r = rnd()
        ("customer", schema("c_custkey" -> l, "c_name" -> s,
            "c_nationkey" -> i, "c_acctbal" -> d, "c_mktsegment" -> s),
          () => (0 until z.customer).map(k => Row(k.toLong, f"Customer#$k%09d",
            r.nextInt(25), cents(r, -99999, 999999), pick(r, Segments)))) },
      { val r = rnd()
        ("supplier", schema("s_suppkey" -> l, "s_name" -> s,
            "s_nationkey" -> i, "s_acctbal" -> d),
          () => (0 until z.supplier).map(k => Row(k.toLong, f"Supplier#$k%09d",
            r.nextInt(25), cents(r, -99999, 999999)))) },
      { val r = rnd()
        ("part", schema("p_partkey" -> l, "p_name" -> s, "p_brand" -> s,
            "p_type" -> s, "p_size" -> i, "p_retailprice" -> d),
          () => (0 until z.part).map(k => Row(k.toLong,
            s"${pick(r, PartAdj)} ${pick(r, PartNoun)}",
            s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes),
            1 + r.nextInt(50), (90000 + (k % 1000) * 10) / 100.0))) },
      { val r = rnd()
        ("orders", schema("o_orderkey" -> l, "o_custkey" -> l,
            "o_orderstatus" -> s, "o_totalprice" -> d, "o_orderdate" -> ts,
            "o_orderpriority" -> s),
          () => (0 until z.orders).map(k => Row(k.toLong,
            r.nextLong(z.customer.toLong), pick(r, Seq("F", "O", "P")),
            cents(r, 101370, 49997859),
            day(r, d95, LocalDateTime.of(2001, 8, 1, 0, 0)),
            pick(r, Priorities)))) },
      { val r = rnd()
        ("lineitem", schema("l_orderkey" -> l, "l_partkey" -> l,
            "l_suppkey" -> l, "l_linenumber" -> i, "l_quantity" -> d,
            "l_extendedprice" -> d, "l_discount" -> d, "l_tax" -> d,
            "l_returnflag" -> s, "l_linestatus" -> s, "l_shipdate" -> ts),
          () => (0 until z.lineitem).map(_ => Row(r.nextLong(z.orders.toLong),
            r.nextLong(z.part.toLong), r.nextLong(z.supplier.toLong),
            1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
            cents(r, 90000, 10500000), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
            pick(r, Seq("F", "O")),
            day(r, d95.plusDays(1), LocalDateTime.of(2001, 11, 4, 0, 0))))) },
      { val r = rnd()
        // ~30 days of events at µs precision, like the fixtures
        val span = 30L * 86400L * 1000000L
        var t = 0L
        ("events", schema("event_id" -> l, "ts" -> ts, "user_id" -> l,
            "event_type" -> s, "value" -> d, "props" -> s),
          () => (0 until z.events).map { k =>
            t += r.nextLong(2 * span / z.events)
            Row(k.toLong,
              LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(t * 1000L),
              r.nextLong(z.users.toLong), pick(r, EventTypes),
              cents(r, 1, 49002), s"""{"k": ${r.nextInt(100)}}""")
          }) },
      { val r = rnd()
        ("documents", schema("doc_id" -> l, "text" -> s, "lang" -> s,
            "source" -> s, "n_chars" -> l),
          () => (0 until z.documents).map { k =>
            val text = Seq.fill(8 + r.nextInt(83))(pick(r, DocWords))
              .mkString(" ")
            val u = r.nextDouble()
            val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (g, w)) =>
              (g, acc + w) }.drop(1).find(_._2 > u).fold("zh")(_._1)
            Row(k.toLong, text, lang, s"src${r.nextInt(20)}",
              text.length.toLong)
          }) },
      { val r = rnd()
        ("embeddings", StructType(Seq(StructField("vec_id", l),
            StructField("embedding", ArrayType(FloatType)),
            StructField("label", i))),
          () => (0 until z.embeddings).map { k =>
            val v = Array.fill(64)(gaussian(r))
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq,
              r.nextInt(10))
          }) })

    val chosen = tables.filter(t => only.isEmpty || only(t._1))
    chosen.foreach { case (name, sch, rows) =>
      val ordered = shuffleSeed.fold(rows())(s =>
        new scala.util.Random(s).shuffle(rows()))
      writeSingleParquet(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(ordered, 1), sch),
        dir.resolve(s"$name.parquet"))
    }
    chosen.map(_._1)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Writes `df` as ONE parquet file at `file`. */
  def writeSingleParquet(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, file: Path): Unit = {
    val stage = file.resolveSibling(file.getFileName.toString + ".stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = Files.list(stage).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst.get
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(stage).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  // ------------------------------------------------------------- corpus

  /** What the corpus generator planted, and the counts
    * `Pipelines.releaseCorpus` must therefore report. */
  final case class Planted(docs: Int, gateShort: Int, gateNoStop: Int,
      exactDups: Int, contaminated: Int, boilerplateDocs: Int,
      benchPassages: Int, staged: Long, published: Long)

  final case class Corpus(docs: Seq[(Long, String, String)],
      bench: Seq[(Long, String)], planted: Planted)

  /** Per-source repeat factors handed to `releaseCorpus`. */
  val Repeats: Map[String, Int] = Map("src0" -> 2)
  val Sources: Int = 4

  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val Syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "pe", "da", "fu", "gi")
  /** Content vocabulary of corpus docs: 3-syllable words (1728). */
  private val CorpusWords =
    for (a <- Syl; b <- Syl; c <- Syl) yield a + b + c
  /** Benchmark passages use a disjoint vocabulary (every word carries a
    * `z` that no corpus word has), so no clean doc shares a 3-gram
    * shingle with a passage. */
  private val BenchWords = CorpusWords.map("z" + _)
  /** Lines repeated across many docs: line dedup keeps the first. */
  private val Boilerplate = (0 until 6).map(k =>
    sentence(new SplittableRandom(1000 + k), CorpusWords, 12))

  /** One C4-valid line: `n` tokens, a stopword every third token (never
    * three stopwords in a row), ending in a period. */
  private def sentence(r: SplittableRandom, words: Seq[String],
      n: Int): String =
    (0 until n).map(k => if (k % 3 == 1) pick(r, Stop) else pick(r, words))
      .mkString(" ") + "."

  /** A doc that passes the gopher gate: 5-7 lines of 10-13 tokens
    * (at least 50 tokens, stopwords, mean token length ~5). */
  private def goodDoc(r: SplittableRandom, words: Seq[String]): Seq[String] =
    Seq.fill(5 + r.nextInt(3))(sentence(r, words, 10 + r.nextInt(4)))

  /** `n` docs. Per doc, independently: 3 % are too short for the gate,
    * 2 % have no stopwords, 3 % are a benchmark passage verbatim,
    * 5 % copy an earlier clean doc, the rest are clean; a quarter of the
    * clean docs also carry one boilerplate line. */
  def corpus(n: Int, seed: Long): Corpus = {
    val r = new SplittableRandom(seed)
    val docs = Array.newBuilder[(Long, String, String)]
    val bench = Array.newBuilder[(Long, String)]
    val clean = scala.collection.mutable.ArrayBuffer.empty[Int]
    var short, noStop, dups, contam, boiler = 0
    var staged, published = 0L
    val texts = new Array[String](n)
    (0 until n).foreach { id =>
      val src = s"src${r.nextInt(Sources)}"
      val u = r.nextDouble()
      val text =
        if (u < 0.03) {
          short += 1
          Seq.fill(2)(sentence(r, CorpusWords, 10)).mkString("\n")
        } else if (u < 0.05) {
          noStop += 1
          Seq.fill(6)(Seq.fill(11)(pick(r, CorpusWords)).mkString(" ") + ".")
            .mkString("\n")
        } else if (u < 0.08) {
          val passage = goodDoc(r, BenchWords).mkString("\n")
          bench += ((contam.toLong, passage))
          contam += 1
          passage
        } else if (u < 0.13 && clean.nonEmpty) {
          dups += 1
          texts(clean(r.nextInt(clean.size)))
        } else {
          val lines = goodDoc(r, CorpusWords)
          val withBoiler =
            if (r.nextInt(4) == 0) {
              boiler += 1
              lines.patch(r.nextInt(lines.size + 1),
                Seq(pick(r, Boilerplate)), 0)
            } else lines
          clean += id
          staged += 1
          published += Repeats.getOrElse(src, 1)
          withBoiler.mkString("\n")
        }
      texts(id) = text
      docs += ((id.toLong, text, src))
    }
    // passages nobody copied: the benchmark is larger than the leak
    (0 until 10).foreach { k =>
      bench += (((contam + k).toLong, goodDoc(r, BenchWords).mkString("\n")))
    }
    Corpus(docs.result().toSeq, bench.result().toSeq,
      Planted(n, short, noStop, dups, contam, boiler, contam + 10, staged,
        published))
  }
}
