package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload, run its minimum
  * number of whole passes over its ops and more until `--seconds` have
  * elapsed, and write every op, pass and (with `--trace 1`) span to the
  * `--out` JSON file.
  * `perfbench/run.py` builds this, launches it and summarises the file.
  *
  * Arguments: `--workload catalog|curate_release|io_roundtrip --seed N
  * --seconds S --trace 0|1 --out FILE --work DIR --cache DIR
  * --fingerprints FILE`,
  * plus `--record 1` to write the catalog fingerprints instead of
  * checking them. */
object Main {
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: Path, work: Path, cache: Path,
      fingerprints: Path, record: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("out")),
      Paths.get(need("work")), Paths.get(need("cache")),
      Paths.get(need("fingerprints")),
      m.getOrElse("record", "0") == "1")
  }

  def session(work: Path): SparkSession = {
    val b = graft.GraftSession.builder(s"local[$Cores]", "perfbench", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("spark-warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load1 = Host.loadAvg1()
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val sessionReadyMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) 1 else 0}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val spans = new Spans(sc, runId)
    val trace = if (a.trace) {
      val t = new Trace
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, spans, a)
    val wl: Workload = a.workload match {
      case "catalog" => new CatalogWorkload(ctx)
      case "curate_release" => new CurateWorkload(ctx)
      case "io_roundtrip" => new IoWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up: inputs, then warm-up (untimed)
    val setup = spans.open("setup", a.workload, Spans.RunId)
    ctx.parent = setup
    val (_, inputs) = spans.within("inputs", a.workload, setup)(_ =>
      wl.inputs())
    val (_, warm) = spans.within("warmup", a.workload, setup)(_ =>
      wl.warmup())
    spans.close(setup)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed window: the workload's passes, then whole passes until
    // the time is up
    val blocks0 = trace.map { t => org.apache.spark.perfbench.Bus.drain(sc)
      (t.rddBlocks, t.rddBytes) }
    System.gc()
    val window = spans.open("window", a.workload, Spans.RunId)
    ctx.parent = window
    ctx.timed = true
    val cpu0 = Host.cpuSnap()
    val t0 = System.nanoTime()
    val passWalls, passCpus = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass < wl.minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      val c0 = Host.cpuSnap()._2
      ctx.pass = pass
      wl.pass(pass)
      passWalls += (System.nanoTime() - p0) / 1e9
      passCpus += (Host.cpuSnap()._2 - c0) / Host.Hz
      pass += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val external = Host.externalCpuShare(cpu0, Host.cpuSnap(), windowS)
    spans.close(window)
    val blocks = trace.map { t => org.apache.spark.perfbench.Bus.drain(sc)
      (t.rddBlocks - blocks0.get._1, t.rddBytes - blocks0.get._2) }
    val info = wl.info()
    spans.close(spans.run)
    val peakRssMb = Host.peakRssMb()

    val out = mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "cores" -> Cores,
      "setup_s" -> setupS,
      "jvm_to_session_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
      "inputs_s" -> (inputs.endMs - inputs.startMs) / 1e3,
      "warmup_s" -> (warm.endMs - warm.startMs) / 1e3,
      "window_s" -> windowS, "pass_walls_s" -> passWalls.toList,
      "pass_cpu_s" -> passCpus.toList,
      "load1_start" -> load1, "external_cpu_share" -> external,
      "peak_rss_mb" -> peakRssMb,
      "ops" -> ctx.ops.toList.map(_.toMap),
      "info" -> info)
    trace.foreach { t =>
      out("spans") = (spans.all ++ t.spans).map(Json.span).toList
      out("executions") = t.executions
      out("rdd_blocks") = blocks.get._1
      out("rdd_mb") = blocks.get._2 / 1e6
    }
    Json.write(a.out, out)
    spark.stop()
  }
}

/** One op of a pass: what the benchmark timed and what it checked. */
final class OpRec(val name: String, val pass: Int, val timed: Boolean) {
  var constructS, actionS = 0.0
  var ok = false
  var error = ""
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def toMap: mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap[String, Any]("name" -> name, "pass" -> pass,
      "timed" -> timed, "construct_s" -> constructS, "action_s" -> actionS,
      "total_s" -> (constructS + actionS), "ok" -> ok, "error" -> error) ++
      attrs
}

/** What a workload needs from the run: the session, the span tree and a
  * way to time one op as construct (the entry call) then action. */
final class Ctx(val spark: SparkSession, val spans: Spans,
    val args: Main.Args) {
  var parent: Span = spans.run
  var timed = false
  var pass = -1
  val ops = mutable.ArrayBuffer.empty[OpRec]

  def work(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Times `construct`, then `action` on its result. The action returns
    * whether the output checked out; an exception fails the op. */
  def op[T](name: String)(construct: => T)(action: (T, OpRec) => Boolean)
      : OpRec = {
    val rec = new OpRec(name, pass, timed)
    ops += rec
    spans.within("op", name, parent) { opSpan =>
      try {
        val cg0 = Codegen.snap()
        val t0 = System.nanoTime()
        val (v, cs) = spans.within("construct", name, opSpan)(_ => construct)
        rec.constructS = (System.nanoTime() - t0) / 1e9
        Codegen.delta(cg0, cs)
        val cg1 = Codegen.snap()
        val t1 = System.nanoTime()
        val (ok, as) = spans.within("action", name, opSpan)(_ =>
          action(v, rec))
        rec.actionS = (System.nanoTime() - t1) / 1e9
        Codegen.delta(cg1, as)
        rec.ok = ok
        if (!ok && rec.error.isEmpty) rec.error = "wrong output"
      } catch {
        case NonFatal(e) =>
          rec.error = e.toString.linesIterator.nextOption().getOrElse("")
            .take(300)
      }
      opSpan.attrs ++= Seq("pass" -> pass, "timed" -> timed, "ok" -> rec.ok)
    }
    System.err.println(f"perfbench op $name pass=$pass " +
      f"construct=${rec.constructS}%.3f action=${rec.actionS}%.3f " +
      s"ok=${rec.ok} ${rec.error}")
    rec
  }
}

trait Workload {
  /** Timed passes every run makes, so that the pass count — and with it
    * the median pass — does not depend on how fast the box is. */
  def minPasses: Int = 1
  /** Generates the run's inputs from the seed. */
  def inputs(): Unit
  /** Untimed work before the timed passes (JIT, code generation, class
    * loading); a workload measured cold does nothing here. */
  def warmup(): Unit
  /** One pass over the ops, timed op by op through [[Ctx.op]]. */
  def pass(i: Int): Unit
  /** Workload facts for the result file (sizes, planted counts, ...). */
  def info(): Map[String, Any]
}

/** Host probes: load, CPU jiffies, peak RSS. */
object Host {
  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case NonFatal(_) => None }

  def loadAvg1(): Double =
    read("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Driver JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(-1.0)

  /** (busy jiffies box-wide, this JVM's utime+stime, cpu count): the same
    * counters and sums as `graft.Bench.cpuSnap`. */
  def cpuSnap(): (Long, Long, Int) =
    (for {
      stat <- read("/proc/stat")
      self <- read("/proc/self/stat")
    } yield {
      val lines = stat.linesIterator.toSeq
      val agg = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
      val busy = agg(0) + agg(1) + agg(2) +
        (if (agg.length > 7) agg(5) + agg(6) + agg(7) else 0L)
      val nCpus = lines.count(l =>
        l.startsWith("cpu") && l.length > 3 && l(3).isDigit)
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong, math.max(nCpus, 1))
    }).getOrElse((-1L, -1L, 0))

  /** Share of the box's CPU capacity used by other processes between two
    * snapshots — `graft.Bench.externalCpuShare`'s definition, at the
    * kernel's usual 100 jiffies per second. */
  /** Jiffies per second of /proc's CPU counters on every mainstream
    * Linux kernel. */
  val Hz = 100.0

  def externalCpuShare(before: (Long, Long, Int), after: (Long, Long, Int),
      wallSecs: Double, hz: Double = Hz): Double =
    if (before._1 < 0 || after._1 < 0 || wallSecs < 0.05) 0.0
    else {
      val capacity = after._3 * hz * wallSecs
      val external = (after._1 - before._1) - (after._2 - before._2)
      math.max(0.0, external / math.max(capacity, 1.0))
    }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def span(s: Span): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs) ++ s.attrs

  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    mapper.writeValue(p.toFile, toJava(v))
  }

  def read(p: Path): java.util.Map[String, AnyRef] =
    mapper.readValue(p.toFile, classOf[java.util.Map[String, AnyRef]])
}
