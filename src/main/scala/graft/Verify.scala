package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
      // timestamp type — read as long (ordering-compatible, never output raw)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset filter: fast local
    // iteration on a single query without dumping all ~90.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    val selected = only match {
      case Some(names) =>
        // Prefix matching: SPARK_GRAFT_ONLY=x23 selects
        // x23_dedup_clusters. Warn when nothing matches (typo'd filter
        // would otherwise silently write zero results).
        val sel = SparkEntry.queries.filter { case (k, _) => names.exists(k.startsWith) }
        if (sel.isEmpty)
          System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY=${names.mkString(",")} matched no queries")
        sel
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the overwrite executes leaves a previous
        // run's parquet in place — the driver would score stale results
        // as this run's output (false green). Remove the directory so
        // the failure is visible as NO OUTPUT.
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).toSeq.flatten.foreach(rm)
          val _ = f.delete()
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) rm(dir)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
