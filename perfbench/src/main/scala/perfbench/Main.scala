package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. set-up: session start, then the workload's inputs written three
  *     times (the median counts), then one warm-up pass; the workload's
  *     check pass, if it has one, runs untimed between inputs and warm-up;
  *  2. closed-loop passes with one caller until `--seconds` have passed
  *     (always at least one pass; with `--trace 1` passes alternate
  *     untraced/traced and at least two run, so the traced run also
  *     yields its own overhead);
  *  3. output checks, outside every timed region.
  *
  * Writes the raw record (timings, facts for the checks, spans and
  * listener counters) as JSON to `--out`; `run.py` turns it into
  * metrics and verdicts. */
object Main {
  val InputReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val clock = new Clock
    val spans = new Spans(clock)
    val ctx = Ctx(spark, spans, clock, seed, work, opt("data"))
    def workload(c: Ctx): Workload = opt("workload") match {
      case "registry_sf001" => new Registry(c, opt.get("ids"))
      case "ingest_chain" => new Ingest(c)
      case other => sys.error(s"unknown workload $other")
    }
    // pin mode: the check facts of one untimed pass per seed, the expected
    // values the output checks compare against (see pins.py)
    for (range <- opt.get("pin-seeds")) {
      val Array(lo, hi) = range.split("-").map(_.toLong)
      val facts = (lo to hi).map { s =>
        val w = workload(ctx.copy(seed = s))
        w.prepare(0); w.pass(0)
        s.toString -> w.check()
      }.toMap
      Files.writeString(Paths.get(opt("out")), Json(facts))
      spark.stop(); return
    }
    val w = workload(ctx)
    val startEpoch = System.currentTimeMillis()
    val inputsS = (0 until InputReps).map(r => timed(w.prepare(r))._2)
    w.precheck()
    val warmupS = timed(w.warmup())._2
    val trace = if (traced) Some(new Trace(spark, clock)) else None
    ctx.trace = trace
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadline = clock.now() + seconds * 1e3
    val minPasses = opt.get("min-passes").map(_.toInt)
      .getOrElse(if (traced) 2 else 1)
    while (passes.length < minPasses || clock.now() < deadline) {
      val i = passes.length
      val on = traced && i % 2 == 1
      if (on) trace.get.attach(i)
      spans.on = on
      val t0 = clock.now()
      val rec = spans(spark.sparkContext, "pass")(w.pass(i))
      val t1 = clock.now()
      spans.on = false
      if (on) trace.get.detach()
      passes += rec ++ Map("index" -> i, "traced" -> on, "start" -> t0,
        "end" -> t1)
      // every pass starts from the same state: checkpoints it left behind
      // are dropped outside the timed region
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    val checks = w.check()
    val raw = Map(
      "workload" -> opt("workload"), "seed" -> seed, "cpus" -> cpus,
      "traced" -> traced, "seconds" -> seconds,
      "jvm_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "start_epoch_ms" -> startEpoch,
      "end_epoch_ms" -> System.currentTimeMillis(),
      "scale" -> w.scale,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS,
        "warmup_s" -> warmupS),
      "passes" -> passes.toSeq,
      "checks" -> checks,
      "output_dirs" -> w.outputDirs.map(d => Map("path" -> d,
        "files" -> Disk.files(d), "bytes" -> Disk.bytes(d))),
      "jvm" -> Jvm.stats(),
      "spans" -> spans.toJson,
      "trace" -> trace.map(_.toJson).orNull)
    Files.writeString(Paths.get(opt("out")), Json(raw))
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the same input-split sizing graft.Bench uses for the small
      // single-file test tables
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Ctx(spark: SparkSession, spans: Spans, clock: Clock,
                     seed: Long, work: String, data: String) {
  /** The listeners of the current traced pass, if any. */
  var trace: Option[Trace] = None
  /** A fresh, empty directory under the run's work directory. */
  def fresh(name: String): String = {
    val p = Paths.get(work, name)
    Disk.delete(p.toString)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

trait Workload {
  def scale: Map[String, Any]
  /** Writes the inputs for input repetition `rep`; the last one is used. */
  def prepare(rep: Int): Unit
  /** An untimed pass whose outputs the checks compare, if any. */
  def precheck(): Unit = ()
  def warmup(): Unit
  /** One timed pass; returns its record (per-op timings and facts). */
  def pass(i: Int): Map[String, Any]
  /** Facts the output checks compare against their expected values. */
  def check(): Map[String, Any]
  def outputDirs: Seq[String]
}

object Disk {
  private def walk(d: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(d)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }
  }
  def files(d: String): Long = walk(d).length.toLong
  def bytes(d: String): Long = walk(d).map(Files.size).sum
  def delete(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

object Jvm {
  /** Peak resident set (VmHWM) plus GC and JIT totals of this process. */
  def stats(): Map[String, Any] = {
    val status = Paths.get("/proc/self/status")
    val hwmKb = if (!Files.exists(status)) -1L else
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("peak_rss_mb" -> hwmKb / 1024.0,
      "gc_ms" -> gcs.map(_.getCollectionTime).sum,
      "gc_count" -> gcs.map(_.getCollectionCount).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
