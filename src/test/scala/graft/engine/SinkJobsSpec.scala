package graft.engine

import graft.SparkTest
import graft.dsl.SheetParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Job-count regression for the TsaBatch sink sequence: once the summary
  * collect has built a condition's cache, the per-condition parquet write
  * and the timeline collect read that cache instead of re-running the
  * pack and the grid evaluation (which launches a dozen or more jobs).
  */
class SinkJobsSpec extends AnyFunSuite with SparkTest {

  private lazy val obs = {
    import spark.implicits._
    val t0 = 1517443200L // 2018-02-01T00:00:00Z
    (for {
      h <- 0 until 24 * 5
      (seid, v) <- Seq(27L -> (if (h % 3 == 0) 8.0 else 2.0),
                       3L -> (if (h % 2 == 0) -2.0 else 1.0))
    } yield (new Timestamp((t0 + h * 3600L) * 1000), 1120L, seid, v))
      .toDF("tfrom", "statid", "seid", "seval")
  }

  for ((label, condition) <- Seq(
      "single-block" -> "s1120#keli_1 = 8",
      "two-block" -> "s1120#keli_1 = 8 and s1120#tie_1 < 0")) {
    test(s"$label condition: after the summary, each sink runs at most 2 jobs") {
      val sheet =
        s"""start,end
          |1.2.2018,28.2.2018
          |site,master_alias,condition
          |Testi,A1,"$condition"
          |""".stripMargin
      val parsed = SheetParser.parse("jobs", sheet)
      assert(parsed.conditionErrors.isEmpty)
      val engine = new TsaEngine(spark)
      try {
        val r = engine.run(parsed.spec.get, obs, Map("keli_1" -> 27, "tie_1" -> 3)).head
        assert(r.errors.isEmpty, r.errors.shortStr)
        assert(r.summary.collect()(0).getAs[Long]("valid_s") > 0)
        val out = Files.createTempDirectory("sink_jobs").resolve("a1").toString
        val write = jobsIn("sink_write")(
          r.data.coalesce(1).write.mode("overwrite").parquet(out))
        val timeline = jobsIn("sink_timeline")(r.data.collect())
        assert(write <= 2, s"parquet write ran $write jobs")
        assert(timeline <= 2, s"timeline collect ran $timeline jobs")
      } finally engine.release()
    }
  }
}
