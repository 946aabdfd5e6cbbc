package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** The `graft.Tools` subcommands that write or report results, run against
  * the shared test session. */
class ToolsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def line(cores: Int, wall: Double, urls: Long): String =
    Tools.LevelResult(cores, wall, urls, urls / wall,
      Vector(wbot.SparkCrawler.StepStat(0, 200, 200, 0, 1600, 1500, 900, 2, (wall * 400).toLong),
        wbot.SparkCrawler.StepStat(1, 900, 900, 0, 7200, 7000, 3000, 3, (wall * 600).toLong)),
      Map("total_requests" -> urls, "total_link" -> 8800L)).line

  test("crawl-report: best rate per level, efficiency (R_hi / R_lo) / (hi / lo), no file written") {
    val baseline = Paths.get("BENCH/BASELINE.md")
    val before = Files.readAllBytes(baseline)
    val out = Files.createTempFile("crawl_levels", ".txt")
    // two runs per level; the faster one of each counts
    Files.writeString(out, Seq(line(2, 12.5, 1100), line(8, 5.0, 1100),
      line(2, 10.0, 1100), line(8, 4.0, 1100)).mkString("", "\n", "\n"))
    val report = Tools.crawlReport(out.toString)
    // R_2 = 110.0, R_8 = 275.0: (275 / 110) / (8 / 2) = 0.625
    assert(report.contains("| 2 | 10.0 | 1100 | 110.0 |"), report)
    assert(report.contains("| 8 | 4.0 | 1100 | 275.0 |"), report)
    assert(!report.contains("| 12.5 |") && !report.contains("| 5.0 |"), report)
    assert(report.contains("(R_8 / R_2) / 4.00 = 0.625**"), report)
    assert(report.contains("| 0 | 200 | 1600 | 4000 | 1600 |"), report)
    assert(report.contains("total_link=8800, total_requests=1100"), report)
    assert(java.util.Arrays.equals(Files.readAllBytes(baseline), before),
      "crawl-report changed BENCH/BASELINE.md")
    Files.delete(out)
  }

  test("plans writes the named query's formatted plan and nothing else") {
    val dir = Files.createTempDirectory("tools_plans")
    val name = "q01_sha_identity"
    def masked(plan: String) = plan.replaceAll("#\\d+", "#")
    Tools.plans(spark, sf, dir.toString, Set(name))
    val expected = SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)
    val written: Seq[Path] = Files.list(dir).toArray.toSeq.map(_.asInstanceOf[Path])
    assert(written.map(_.getFileName.toString) == Seq(s"$name.txt"))
    val plan = Files.readString(written.head)
    assert(plan.startsWith("== Physical Plan =="), plan)
    assert(masked(plan) == masked(expected))
    written.foreach(Files.delete); Files.delete(dir)
  }
}
