package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Hashes every result a `graft.Verify` dump holds (one parquet directory
  * per id) with the benchmark's own content hash, so the registry pins can
  * be compared with results the DuckDB oracle has accepted.
  * Usage: `Crosscheck <verify-out-dir> <out.json>`. */
object Crosscheck {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Main.session(4, Files.createTempDirectory("crosscheck").toString)
    val s = Files.list(Paths.get(dump))
    val ids = try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted finally s.close()
    val res = ids.map { id =>
      val rows = spark.read.parquet(s"$dump/$id").collect()
      id -> Map("rows" -> rows.length, "hash" -> Canon.hash(rows))
    }.toMap
    Files.writeString(Paths.get(out), Json(res))
    spark.stop()
  }
}
