package graft

import java.nio.file.{Files, Paths}
import graft.sources.{Collector, ParquetSource}
import graft.output.{ArtifactJson, MarkdownDoc, SqlDdlDoc, MermaidDoc, HtmlDoc}

/** CLI-equivalent of the reference's two binaries in one pass:
  * collect (dbsurveyor-collect) then generate (dbsurveyor generate):
  * writes `<outDir>/schema.graft.json` plus all four doc formats
  * (schema.md / schema.sql / schema.mmd / schema.html).
  *
  * Usage: runMain graft.Generate <sfDir> <outDir> [sampleSize] [compareDir]
  * With `compareDir`, also collects that catalog and appends a
  * survey-to-survey drift report (Collector.diff) to the markdown.
  * Env flags (the reference's CLI switches): GRAFT_WITH_KEYS=1 infers
  * PK/FK, GRAFT_WITH_CONSTRAINTS=1 infers constraint candidates,
  * GRAFT_STRATEGY=most_recent|random|none picks the sampling strategy,
  * GRAFT_COMPRESS=1|zstd|gzip / GRAFT_ENCRYPTION_PASSWORD secure the
  * artifact (zstd is the default compression, matching the reference's
  * `.json.zst` naming), GRAFT_DIALECT targets the DDL dialect
  * (postgresql|mysql|sqlite|sqlserver|generic).
  */
object Generate {

  /** Atomic artifact write — the reference's write_atomic discipline
    * (dbsurveyor-collect/src/output.rs:193-227): stage into a temp file
    * in the SAME directory, then rename over the target, so a crash
    * mid-write can never leave a torn artifact where a consumer expects
    * a valid one. Falls back to a plain replace on filesystems without
    * atomic moves.
    */
  private[graft] def atomicWrite(path: java.nio.file.Path,
      bytes: Array[Byte]): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".graft_tmp_", ".partial")
    try {
      Files.write(tmp, bytes)
      try Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, path,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally Files.deleteIfExists(tmp)
  }

  private[graft] def atomicWriteString(path: java.nio.file.Path,
      s: String): Unit = atomicWrite(path, s.getBytes("UTF-8"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_out"
    val sampleSize = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession("local[4]", 4)
    val strategy = sys.env.get("GRAFT_STRATEGY") match {
      case Some("random") => Collector.SamplingStrategy.RandomDet
      case Some("none") => Collector.SamplingStrategy.NoSample
      case _ => Collector.SamplingStrategy.MostRecent
    }
    val artifact = Collector.collect(new ParquetSource(spark, sfDir), sampleSize,
      withKeys = sys.env.get("GRAFT_WITH_KEYS").contains("1"),
      strategy = strategy,
      withConstraints = sys.env.get("GRAFT_WITH_CONSTRAINTS").contains("1"))
    val errors = Collector.validate(artifact)
    if (errors.nonEmpty) {
      errors.foreach(e => System.err.println(s"[generate] validation: $e"))
      sys.exit(1)
    }
    Files.createDirectories(Paths.get(outDir))
    // --compress / --encrypt analogues (reference reads
    // DBSURVEYOR_ENCRYPTION_PASSWORD; we read GRAFT_* envs)
    // Compression default is zstd, matching the reference artifact
    // naming (`.dbsurveyor.json.zst`, main.rs:44); GRAFT_COMPRESS=gzip
    // keeps the legacy gzip flag for older tooling. ArtifactLoad sniffs
    // both framings, so either round-trips.
    val compress = sys.env.get("GRAFT_COMPRESS") match {
      case Some("gzip") => Some("gzip")
      case Some("1") | Some("zstd") => Some("zstd")
      case _ => None
    }
    val password = sys.env.get("GRAFT_ENCRYPTION_PASSWORD")
    val jsonBytes = ArtifactJson.render(artifact).getBytes("UTF-8")
    val (packed, cext) = compress match {
      case Some("gzip") => (output.Secure.gzip(jsonBytes), ".json.gz")
      case Some(_)      => (output.Secure.zstd(jsonBytes), ".json.zst")
      case None         => (jsonBytes, ".json")
    }
    val (payload, ext) = password match {
      case Some(p) => (output.Secure.encrypt(packed, p), cext + ".enc")
      case None    => (packed, cext)
    }
    atomicWrite(Paths.get(s"$outDir/schema.graft$ext"), payload)
    val drift = if (args.length > 3) {
      val other = Collector.collect(new ParquetSource(spark, args(3)), sampleSize)
      val d = Collector.diff(other, artifact)
      val sb = new StringBuilder("\n## Drift vs " + args(3) + "\n\n")
      if (d.addedTables.nonEmpty) sb ++= s"- Added tables: ${d.addedTables.mkString(", ")}\n"
      if (d.removedTables.nonEmpty) sb ++= s"- Removed tables: ${d.removedTables.mkString(", ")}\n"
      d.addedColumns.foreach { case (t, c) => sb ++= s"- Added column: $t.$c\n" }
      d.removedColumns.foreach { case (t, c) => sb ++= s"- Removed column: $t.$c\n" }
      d.typeChanges.foreach { case (t, c, b, a) => sb ++= s"- Type change: $t.$c $b -> $a\n" }
      d.rowCountDrift.foreach { case (t, b, a) => sb ++= s"- Rowcount: $t $b -> $a\n" }
      if (d.addedTables.isEmpty && d.removedTables.isEmpty &&
          d.addedColumns.isEmpty && d.removedColumns.isEmpty &&
          d.typeChanges.isEmpty && d.rowCountDrift.isEmpty)
        sb ++= "- No drift detected\n"
      sb.result()
    } else ""
    atomicWriteString(Paths.get(s"$outDir/schema.md"), MarkdownDoc.render(artifact) + drift)
    // --dialect analogue (reference main.rs:150-167 SqlArgs.dialect)
    val dialect = SqlDdlDoc.SqlDialect.byName(
      sys.env.getOrElse("GRAFT_DIALECT", "generic"))
    atomicWriteString(Paths.get(s"$outDir/schema.sql"),
      SqlDdlDoc.render(artifact, dialect))
    atomicWriteString(Paths.get(s"$outDir/schema.mmd"), MermaidDoc.render(artifact))
    atomicWriteString(Paths.get(s"$outDir/schema.html"), HtmlDoc.render(artifact))
    println(s"[generate] wrote $outDir/schema.graft$ext + md/sql/mmd/html " +
      s"(${artifact.tables.size} tables, strategy ${strategy.strategyName})")
    spark.stop()
  }
}
