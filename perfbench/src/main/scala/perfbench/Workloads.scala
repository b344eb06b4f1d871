package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{ChainConfig, Sampling}

/** `registry_sf001`: every registry id (or the ids listed in `--ids`) once
  * per pass, in a seed-permuted order, over the sf0.01 fixture tables.
  * One op = `Queries.<id>(spark, dir)` plus consuming its full physical
  * plan (`queryExecution.toRdd`), as graft.Bench times it. */
final class Registry(c: Ctx, idsFile: Option[String]) extends Workload {
  import c._
  private val fns = graft.Queries.all.toMap
  val ids: Seq[String] = idsFile.fold(graft.Queries.all.map(_._1)) { f =>
    Files.readAllLines(Paths.get(f)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  }
  require(ids.forall(fns.contains), "unknown id in " + idsFile.getOrElse(""))
  private var dir = ""

  def scale: Map[String, Any] = Map("tables" -> "sf0.01", "ids" -> ids.length,
    "input_bytes" -> Disk.bytes(data))

  def prepare(rep: Int): Unit = {
    dir = fresh(s"in/rep$rep")
    Files.createDirectories(Paths.get(dir))
    val s = Files.list(Paths.get(data))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, Paths.get(dir, f.getFileName.toString)))
    finally s.close()
  }

  /** Pass `i` visits the ids in the seed's i-th permutation. */
  def order(i: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + i).shuffle(ids)

  private var results = Map.empty[String, Map[String, Any]]

  /** The output check, before the warm-up and outside set-up: each id
    * runs once, and its row count and order-insensitive content hash are
    * kept for comparison with the pins. */
  override def precheck(): Unit = results = order(-1).map { id =>
    val r: Map[String, Any] = try {
      val rows = fns(id)(spark, dir).collect()
      Map("rows" -> rows.length, "hash" -> Canon.hash(rows))
    } catch { case e: Throwable => Map("error" -> e.toString.take(300)) }
    finally spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    id -> r
  }.toMap

  /** One pass run as a timed pass runs. The check pass before it is the
    * cold pass; without this one the first timed pass still runs about
    * 15% slower than the third, while the JIT catches up. */
  def warmup(): Unit = order(-2).foreach(one)

  def pass(i: Int): Map[String, Any] = Map("ops" -> order(i).map(one))

  private def one(id: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = clock.now()
    try {
      val rows = spans(sc, s"id:$id") {
        val (df, build) = spans(sc, "build")((fns(id)(spark, dir), spans.current))
        val qe = df.queryExecution
        if (spans.on) {
          // analysis ran eagerly inside `build`; Catalyst's tracker holds
          // its interval, recorded as a child span of `build`
          qe.tracker.phases.get("analysis").foreach(p => spans.record(build,
            "analysis", clock.fromEpoch(p.startTimeMs), clock.fromEpoch(p.endTimeMs)))
          spans(sc, "optimization")(qe.optimizedPlan)
          spans(sc, "planning")(qe.executedPlan)
        }
        val n = spans(sc, "execute")(qe.toRdd.count())
        if (spans.on) trace.foreach(_.addQuery(qe))
        n
      }
      Map("id" -> id, "ms" -> (clock.now() - t0), "rows" -> rows)
    } catch {
      case e: Throwable =>
        Map("id" -> id, "ms" -> (clock.now() - t0), "error" -> e.toString.take(300))
    } finally spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def check(): Map[String, Any] = Map("results" -> results)

  /** Ids with a persisted-index lifecycle keep their indexes here. */
  def outputDirs: Seq[String] = Seq(System.getProperty("java.io.tmpdir"))
}

/** `ingest_chain`: `IO.composedIngestSink` with all six gates on, over
  * pre-written fixed-size parquet micro-batches (`maxFilesPerTrigger 1`,
  * AvailableNow) in the shape of graft.tools.StreamBench's chain mode.
  * One pass drains every batch into fresh sink, index and checkpoint
  * directories; one op = one micro-batch. */
final class Ingest(c: Ctx) extends Workload {
  import c._
  val batchSize = 1000L
  val nBatches = 3
  private var in = ""
  private val outs = scala.collection.mutable.ArrayBuffer.empty[String]

  def scale: Map[String, Any] = Map("batch_size" -> batchSize,
    "batches" -> nBatches, "input_bytes" -> Disk.bytes(s"$in/batches"))

  /** ≈17% exact re-emissions, 40 tokens from a 200k-token vocabulary,
    * 64-dim embeddings pooled into 512 jittered regions; every word and
    * region is drawn from the seed. */
  private def gen(from: Long, until: Long): DataFrame = {
    val s = lit(seed)
    spark.range(from, until).toDF("id")
      .withColumn("__ck", when(col("id") % 6L === 0L, col("id") / 7L)
        .otherwise(col("id")) % 524288L)
      .withColumn("doc_id", col("id"))
      .withColumn("text", concat_ws(" ", (0 until 40).map(i =>
        concat(lit("w"), pmod(xxhash64(col("__ck") * 40L + i, s),
          lit(200000L)))): _*))
      .withColumn("embedding", array((0 until 64).map { j =>
        (pmod(xxhash64(col("__ck") % 512L, lit(j), s), lit(2000L))
          .cast("double") - 1000.0) / 1000.0 +
          ((col("__ck") % 97L).cast("double") - 48.0) / 4800.0
      }: _*))
      .select("doc_id", "text", "embedding")
  }

  def prepare(rep: Int): Unit = {
    in = fresh(s"in/rep$rep")
    val boot = gen(0, 2048)
    boot.filter(col("doc_id") < 32).select("text").write.parquet(s"$in/probe")
    Sampling.dsirLm(boot.withColumn("__t", col("doc_id") % 2L === 0L),
      "text", col("__t")).write.parquet(s"$in/lm")
    for (b <- 0 until nBatches)
      gen(b * batchSize, (b + 1) * batchSize).coalesce(1)
        .write.mode("append").parquet(s"$in/batches")
  }

  private def drain(src: String, out: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val docs = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val cfg = ChainConfig("doc_id", "text",
      fpIndexDir = s"$out/fp", bandIndexDir = s"$out/band",
      nearDupThreshold = 0.7,
      winnowIndexDir = Some(s"$out/win"),
      probeDir = Some(s"$in/probe"),
      lmDir = Some(s"$in/lm"), qualityThresholdPicoPerToken = -10000000000000L,
      embCol = Some("embedding"),
      diversityIndexDir = Some(s"$out/div"),
      diversityCap = (batchSize * nBatches / 512L + 1L).toInt)
    val q = graft.sources.IO.composedIngestSink(docs, s"$out/sink",
      s"$out/ck", cfg).start()
    q.awaitTermination()
    q
  }

  /** Two drains of the same batches. After only one, the next drain
    * still runs about 30% slower than later ones, while the JIT catches
    * up. The first warm-up drain's ledger is the one every timed drain
    * must repeat. */
  def warmup(): Unit =
    for (k <- 0 until 2) drain(s"$in/batches", fresh(s"out/warmup$k"))

  def pass(i: Int): Map[String, Any] = {
    val out = fresh(s"out/pass$i")
    val parent = spans.current
    try {
      val q = drain(s"$in/batches", out)
      outs += out
      Map("ops" -> q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val start = clock.fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
        if (spans.on)
          spans.record(parent, s"batch:${p.batchId}", start, start + p.batchDuration)
        Map("id" -> s"batch:${p.batchId}", "batch" -> p.batchId,
          "rows" -> p.numInputRows, "ms" -> p.batchDuration.toDouble,
          "start" -> start,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
      })
    } catch {
      case e: Throwable => Map("ops" -> Seq(Map("id" -> "drain",
        "error" -> e.toString.take(300))))
    }
  }

  /** Per drain (the warm-up's first): admitted docs, duplicated doc ids,
    * the batch ids with a committed WAL partition, and the ledger rows. */
  def check(): Map[String, Any] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def facts(o: String): Map[String, Any] = {
      val corpus = spark.read.parquet(s"$o/sink")
      val wal = fs.listStatus(new org.apache.hadoop.fs.Path(s"$o/sink/_decisions"))
        .filter(st => st.isDirectory &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName.stripPrefix("__batch=").toLong).sorted.toSeq
      Map("admitted" -> corpus.count(),
        "duplicate_ids" -> corpus.groupBy("doc_id").count()
          .filter(col("count") > 1).count(),
        "wal_batches" -> wal,
        "ledger" -> spark.read.parquet(s"$o/sink/_ledger")
          .select("__batch", "raw", "admitted").orderBy("__batch").collect()
          .map(r => Map("batch" -> r.getInt(0), "raw" -> r.getLong(1),
            "admitted" -> r.getLong(2))).toSeq)
    }
    val warm = s"$work/out/warmup0"
    Map("warmup" -> (if (Files.exists(Paths.get(warm))) facts(warm) else null),
      "passes" -> outs.toSeq.map(facts))
  }

  def outputDirs: Seq[String] = outs.lastOption.toSeq
}

/** Order-insensitive content hash of a result: the wrapping sum of a
  * 64-bit hash of each row's canonical text. Doubles are compared at nine
  * significant digits, so a last-bit difference from summation order
  * does not read as a wrong result. */
object Canon {
  def value(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }
  def hash(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = value(r)
      sum += (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)
    }
    f"$sum%016x"
  }
}
