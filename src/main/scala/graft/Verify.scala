package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The dump loop, callable against an existing session (OracleParitySpec
    * replays the driver gate inside `sbt test` and must not stop the
    * shared TestSession). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same between-query boundary as Bench, so a single-JVM dump of
      // every query doesn't accumulate dead storage blocks
      SharedArtifacts.clearBetweenQueries(spark)
    }
    // keys sorted, so the file is diffable from one run to the next; the
    // JSON escape covers every control char, so a tab or CR in the SQL
    // still parses
    import graft.output.ArtifactJson.q
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (builder-local iteration only; the driver passes
    // 2): comma-separated query names to dump instead of the full map
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
