package graft.queries

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Gate self-check (r9 postmortem): one pathological oracle — q68's
  * un-materialized recursive CTE, 843.9 s in DuckDB at sf0.01 — stalled
  * the DRIVER's correctness harness and zeroed the round's artifact
  * without any builder-side test going red. This spec times EVERY
  * oracle in DuckDB (via the driver-side python3+duckdb present in the
  * harness container) against a per-oracle budget at sf0.01, so a
  * too-expensive verification contract fails the BUILDER's session
  * loudly, where it can be fixed, instead of silently blanking the
  * driver's gate. The script side carries a watchdog interrupt, so even
  * a non-terminating oracle dies at ~2× budget rather than hanging this
  * suite. Cancels (assume) only on genuinely environmental absences —
  * python3/duckdb or the testdata; a missing SCRIPT is a repo bug and
  * FAILS, otherwise the tripwire could disarm itself silently. No Spark
  * session needed — the oracle map is pure data, dumped via the same
  * [[graft.OracleDump]] serializer the builder tooling uses (one
  * escaper, not a drifting copy). */
class OracleBudgetSpec extends AnyFunSuite {
  private val BudgetSeconds = 10.0
  private val SfDir = "/root/testdata/sf0.01"

  test("oracle JSON escapes quote, backslash, control and non-ASCII chars losslessly") {
    val tricky = "q\"uo\\te\nnl\rcr\ttab\u0001ctl é→漢"
    val m = Map(s"key$tricky" -> s"SELECT '$tricky' AS x")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(graft.OracleDump.json(m), classOf[java.util.Map[String, String]])
    assert(parsed == java.util.Map.of(s"key$tricky", s"SELECT '$tricky' AS x"))
  }

  test(s"every oracle completes in DuckDB within ${BudgetSeconds}s at sf0.01") {
    assume(Files.exists(Paths.get(s"$SfDir/documents.parquet")), "testdata absent")
    val probe = new ProcessBuilder("python3", "-c", "import duckdb").start()
    assume(probe.waitFor() == 0, "python3+duckdb unavailable")

    val tmp = Files.createTempFile("oracle_sql", ".json")
    graft.OracleDump.main(Array(tmp.toString))

    val script = new java.io.File("tools/oracle_budget.py").getAbsoluteFile
    assert(script.exists(),
      s"$script missing — the oracle-budget tripwire would be disarmed")
    val pb = new ProcessBuilder("python3", script.toString,
      tmp.toString, SfDir, BudgetSeconds.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    Files.deleteIfExists(tmp)
    assert(rc == 0, s"oracle over budget or failing:\n$out")
  }
}
