package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate-of-the-gate (r6 VERDICT next-round #8): replays the driver's
  * correctness pipeline — Verify dump + scripts/oracle_check.py's
  * TYPE-sensitive DuckDB compare — for every `SparkEntry.oracleSql`
  * entry at sf0.001, inside `sbt test`. A HUGEINT-vs-BIGINT seam or a
  * semantic drift between a query and its oracle (the r6 q12/q21
  * failure class) goes red HERE, not in the round driver.
  *
  * Runs the exact same python script the builder uses locally, so the
  * compare semantics (columns sorted by name, rows sorted, floats via
  * repr, declared DuckDB types) cannot drift from the tooling.
  */
class OracleParitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracleSql entry passes the driver's type-sensitive DuckDB compare") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    assume(new java.io.File("scripts/oracle_check.py").isFile,
      "run from the repo root (sbt loads the project there)")
    val out = java.nio.file.Files.createTempDirectory("oracle_parity").toString
    Verify.dump(spark, sfDir, out)
    val pb = new ProcessBuilder("python3", "scripts/oracle_check.py", sfDir, out)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val code = proc.waitFor()
    val fails = log.linesIterator.filter(_.startsWith("FAIL")).toSeq
    // the dump is kept only when the check fails, for inspection
    assert(code == 0 && fails.isEmpty,
      s"oracle_check.py exit $code (dump kept at $out):\n${fails.mkString("\n")}\n" +
        log.linesIterator.toSeq.takeRight(2).mkString("\n"))
    val tree = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try tree.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    finally tree.close()
  }

  /** SHA-256 of the sorted names, newline-joined. A deliberate change to
    * the registry updates the count and digest here in the same commit;
    * the current values are in the failure message.
    */
  private def digest(names: Iterable[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("registry: unique names, pinned query and oracle sets, five rows-only queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"repeated names: ${names.diff(names.distinct).mkString(", ")}")
    val (q, o) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    assert((q.size, digest(q)) ==
      (265, "92f9b8c90c4964c93af5b332c3e26e1b5bc58947e9f40cc41d5a1a354130249d"))
    assert((o.size, digest(o)) ==
      (260, "62be47b30d49d2b63586f03e13c5c123d281c182aa81a96d655eb11dc52eeae8"))
    assert(q -- o == Set("catalog_routines", "dedup_bloom_gate", "env_fingerprint",
      "infer_constraints_approx", "profile_table_approx"))
  }
}
