package graft

import java.nio.file.{Files, Path}
import scala.sys.process.{Process, ProcessLogger}

/** The DuckDB oracle gate: every named query, dumped exactly as `Verify`
  * dumps it, must equal its oracle SQL run by `tools/check_oracle.py`
  * (exact compare, doubles included). */
class OracleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("all 67 named queries match the DuckDB oracle at sf0.001") {
    val out = Files.createTempDirectory("graft-oracle")
    try {
      Verify.dump(spark, dir, out.toString)
      Bench.resetStorage(spark)
      val log = new StringBuilder
      val code = Process(Seq("python3", "tools/check_oracle.py", dir, out.toString))
        .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
      assert(code == 0 && log.toString.contains("67 ok, 0 failed"), s"oracle compare:\n$log")
    } finally {
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
  }
}
