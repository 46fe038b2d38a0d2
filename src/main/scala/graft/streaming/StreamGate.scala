package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.NioStoreFs

/** The one memory-sink lifecycle the streaming gates share: land the
  * feed on disk, stream it back, drain the query into a memory sink
  * and hand back the sink's rows — leaving nothing behind. No feed
  * directory, no running query, no narrowed shuffle-partition conf,
  * and no temp view: a memory sink's view otherwise pins its rows in
  * the session catalog for the life of the JVM. All of it is
  * exception-safe, so a failing stream leaks none of it either.
  *
  * [[run]] is the whole lifecycle for parquet feeds. A gate whose
  * feed has another format (JSON payloads, tar shards) writes it
  * itself inside [[feedDir]] and calls [[drain]].
  */
object StreamGate {

  /** Lands each of `feeds` as ONE parquet file in its own directory
    * (one file → one micro-batch, so the stream converges
    * deterministically), reads them back as file streams in the same
    * order, and drains `build(streams)`. `sentinel`, when given, is
    * appended to the first feed after the first drain and drained as
    * a second epoch — the far-future row that pushes the watermark
    * past every open window or session.
    */
  def run(s: SparkSession, feeds: Seq[DataFrame], mode: String = "append",
          sentinel: Option[DataFrame] = None)(
          build: Seq[DataFrame] => DataFrame): DataFrame =
    feedDir { dir =>
      val paths = feeds.indices.map(i => dir.resolve(s"feed$i").toString)
      feeds.zip(paths).foreach { case (f, p) => f.coalesce(1).write.parquet(p) }
      val streams = paths.map(p =>
        s.readStream.schema(s.read.parquet(p).schema).parquet(p))
      val land = sentinel.toSeq.map(f => () =>
        f.coalesce(1).write.mode("append").parquet(paths.head))
      drain(s, dir, mode, land)(build(streams))
    }

  /** A fresh temp directory for `body`'s feed, deleted however `body`
    * exits.
    */
  def feedDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("stream_gate")
    try body(dir) finally NioStoreFs.deleteRecursively(dir.toString)
  }

  /** Drains `query` into a memory sink: start, process everything
    * available, then for each of `epochs` run it (it lands more input)
    * and process again; stop. State partitions are sized from the bytes
    * under `feed` at start ([[StreamTune.withStatePartitions]]). The
    * returned frame holds the sink's rows; its temp view is already
    * dropped.
    */
  def drain(s: SparkSession, feed: Path, mode: String = "append",
            epochs: Seq[() => Unit] = Nil)(query: DataFrame): DataFrame = {
    val sink = s"stream_gate_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
    try {
      StreamTune.withStatePartitions(s, StreamTune.dirBytes(feed.toString)) {
        val q = query.writeStream.format("memory").queryName(sink)
          .outputMode(mode).start()
        try {
          q.processAllAvailable()
          epochs.foreach { land => land(); q.processAllAvailable() }
        } finally q.stop()
      }
      // resolved now, so the frame keeps the sink after the view drops
      s.table(sink)
    } finally s.catalog.dropTempView(sink)
  }
}
