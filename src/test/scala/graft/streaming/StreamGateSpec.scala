package graft.streaming

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[StreamGate]] leaves nothing behind — not after a gate drains, and
  * not after a gate's stream throws: no memory-sink temp view pinning
  * rows in the session catalog, no feed directory, no running query,
  * and the session's shuffle-partition conf back where it was.
  */
class StreamGateSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  private val memorySinkGates = Seq(
    "q_stream_pack", "q_stream_asof", "q_stream_join", "q_stream_sessions",
    "q_stream_roadweather", "q_stream_dedup", "q_stream_curate",
    "q_stream_neardup", "q_stream_decontam", "q_stream_hll",
    "q_stream_checks", "q_stream_image", "q_stream_cms", "q_stream_tar",
    "q_stream_window")

  private def sinkViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.contains("_sink_")).map(_.name).toSet

  private def feedDirs(): Set[String] =
    new java.io.File(sys.props("java.io.tmpdir")).list()
      .filter(_.startsWith("stream_gate")).toSet

  /** Runs `body` and asserts it left no sink view, feed directory,
    * active query or changed shuffle-partition conf behind.
    */
  private def assertLeavesNothing(body: => Unit): Unit = {
    val (views, feeds) = (sinkViews(), feedDirs())
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    body
    assert(sinkViews() -- views == Set.empty, "memory-sink views left behind")
    assert(feedDirs() -- feeds == Set.empty, "feed directories left behind")
    assert(spark.streams.active.isEmpty, "streaming queries still active")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
  }

  test("the memory-sink gates leave no view, feed, query or conf behind") {
    assertLeavesNothing {
      memorySinkGates.foreach { name =>
        // the returned frame must stay readable after its view drops
        graft.SparkEntry.queries(name)(spark, sf).collect()
      }
    }
  }

  test("a throwing stream cleans up the same way") {
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x)
    val feed = spark.range(10).toDF("id")
    assertLeavesNothing {
      // fails inside the first micro-batch
      intercept[Exception](StreamGate.run(spark, Seq(feed)) {
        case Seq(src) => src.select(boom(col("id")).as("id"))
      })
      // fails while landing a later epoch
      intercept[IllegalStateException](StreamGate.feedDir { dir =>
        feed.write.parquet(dir.resolve("feed").toString)
        StreamGate.drain(spark, dir,
          epochs = Seq(() => throw new IllegalStateException("no epoch")))(
          spark.readStream.schema(feed.schema)
            .parquet(dir.resolve("feed").toString))
      })
    }
  }
}
