package graft

import scala.sys.process.{Process, ProcessLogger}

/** In-test replay of the DuckDB-oracle compare for the loop-unrolling
  * oracles whose engine parity leans hardest on ordered-fold arithmetic
  * (deterministic-KMeans IVF, agentic stub loop). Writes the same
  * parquet + oracle_sql.json shape as `graft.Verify` and shells out to
  * `tools/compare.py`, so any environment sensitivity (float rendering,
  * partitioning nondeterminism) surfaces in `sbt test` instead of only in
  * the driver's round gate. Cancels rather than fails when the sf0.01
  * fixtures or the python3+duckdb toolchain are absent.
  */
class VerifyReplaySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.01"
  private val names = Set("q_ivf_kmeans", "q_agentic")

  test("driver-shaped DuckDB replay passes for the disputed queries") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.01 fixtures unavailable")
    val sink = ProcessLogger(_ => (), _ => ())
    assume(Process(Seq("python3", "-c", "import duckdb")).!(sink) == 0,
      "python3+duckdb unavailable")
    val repoRoot = new java.io.File("tools/compare.py")
    assume(repoRoot.exists(), "tools/compare.py unavailable")

    val out = java.nio.file.Files.createTempDirectory("verify_replay")
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
    }
    java.nio.file.Files.writeString(
      out.resolve("oracle_sql.json"), Verify.oracleJson(Some(names)))

    val buf = new StringBuilder
    val log = ProcessLogger(l => buf.append(l).append('\n'),
      l => buf.append(l).append('\n'))
    val code = Process(
      Seq("python3", repoRoot.getPath, sfDir, out.toString)).!(log)
    val report = buf.toString
    assert(code == 0, s"compare.py exited $code:\n$report")
    assert(report.contains(s"${names.size}/${names.size} pass"),
      s"replay not fully green:\n$report")
    // ordered match specifically — "unordered only" would mean the driver's
    // row-order-sensitive hash could still diverge
    names.foreach { n =>
      assert(report.linesIterator.exists(l =>
        l.contains(n) && l.contains("(ordered)")), s"$n not ordered-green:\n$report")
    }
  }
}
