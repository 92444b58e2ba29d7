package graft

import scala.sys.process.{Process, ProcessLogger}

/** Oracle TYPE-parity gate. The driver's correctness hasher is type-aware
  * (arrow encodings), so an oracle whose SQL yields HUGEINT or DECIMAL
  * where the Spark query emits int64 hash-fails even with identical values
  * (DuckDB `SUM(BIGINT)` returns HUGEINT). tools/compare.py compares
  * stringified values and cannot see this class of bug; this spec can: it
  * DESCRIBEs every oracle in DuckDB (LIMIT 0, no execution) and diffs
  * canonicalized column types against the Spark DataFrame schema.
  *
  * Intentional same-type pairs pass: q_multitenant_scope casts BOTH sides
  * to DECIMAL(38,2). Cancels when fixtures or python3+duckdb are absent.
  */
class OracleTypeParitySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def jq(s: String): String = Verify.jsonEscape(s)

  test("every oracle's DuckDB output types match the Spark schema") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      "sf0.001 fixtures unavailable")
    val sink = ProcessLogger(_ => (), _ => ())
    assume(Process(Seq("python3", "-c", "import duckdb")).!(sink) == 0,
      "python3+duckdb unavailable")
    assume(new java.io.File("tools/typecheck.py").exists(),
      "tools/typecheck.py unavailable")

    // Constructing the DataFrame is enough for .schema — no job runs for
    // lazy plans; driver-loop queries (beams, agentic) execute their small
    // sf0.001 loops, which is why this spec uses the smallest fixture.
    val schemas = SparkEntry.oracleSql.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.schema.fields
        .map(f => s"${jq(f.name)}: ${jq(f.dataType.simpleString)}")
        .mkString("{", ",", "}")
      s"${jq(name)}: $cols"
    }.mkString("{", ",", "}")
    val oracles = Verify.oracleJson(None)
    val payload =
      s"""{"sf_dir": ${jq(sfDir)}, "oracles": $oracles, "schemas": $schemas}"""
    val in = java.nio.file.Files.createTempFile("typeparity", ".json")
    java.nio.file.Files.writeString(in, payload)

    val buf = new StringBuilder
    val log = ProcessLogger(l => buf.append(l).append('\n'),
      l => buf.append(l).append('\n'))
    val code = Process(
      Seq("python3", "tools/typecheck.py", in.toString)).!(log)
    assert(code == 0, s"oracle type parity failed:\n${buf.toString}")
  }
}
