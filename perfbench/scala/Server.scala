package perfbench

import graft.cli.TsaBatch
import graft.ingest.LotjuIngest
import graft.operators.{Dedup, TextOps}
import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The program side of the benchmark: one Spark session on
  * `GraftSession.local(n, n)` that runs one workload's operation each
  * time the client asks for it.
  *
  * Protocol (one line each way): the client writes `run <outDir> <0|1>`
  * (the last field asks for a traced run) or `quit` on stdin; every
  * reply is one stdout line `@@PB <json>`. The first reply, `ready`,
  * comes once the workload's set-up is done. Spark logs go to stderr.
  *
  * Usage: Server --workload <name> --inputs <dir> --work <dir>
  *                --cores <n> --trace <0|1>
  */
object Server {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opts("cores").toInt
    val traceMode = opts("trace") == "1"
    val spark = graft.GraftSession.local(cores, cores)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    if (traceMode) sc.addSparkListener(tracer)
    val w = Workload(opts("workload"), spark, opts("inputs"), opts("work"))

    def measured(group: String, sp: Spans)(body: => Unit): Json.Raw = {
      sc.setJobGroup(group, group)
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      pools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val error =
        try { body; null }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val secs = (System.nanoTime() - t0) / 1e9
      val heapMb = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (traceMode) tracer.drain(group)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      sc.clearJobGroup()
      val spans = if (traceMode) tracer.take() else Map.empty[String, SpanStats]
      Json.obj(
        "ok" -> (error == null), "error" -> error, "secs" -> secs,
        "heap_mb" -> heapMb, "jobs" -> jobs, "cores" -> cores,
        "counts" -> w.takeCounts(),
        "spans" -> spans.map { case (k, s) => k -> Json.obj(
          "calls" -> s.calls, "s" -> s.wallNs / 1e9, "jobs" -> s.jobs,
          "tasks" -> s.tasks, "task_busy_s" -> s.taskBusyMs / 1e3,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes)
        })
    }

    val setup = measured("setup", if (traceMode) tracer else Untraced)(
      w.setup(if (traceMode) tracer else Untraced))
    reply(s"""{"event": "ready", "setup": $setup}""")
    var n = 0
    var line = scala.io.StdIn.readLine()
    while (line != null && line.trim != "quit") {
      val Array(_, out, traced) = line.trim.split(" ")
      val sp = if (traced == "1") tracer else Untraced
      n += 1
      val r = measured(s"op-$n", sp)(w.op(out, sp, traced == "1"))
      reply(s"""{"event": "done", "op": $r}""")
      line = scala.io.StdIn.readLine()
    }
    spark.stop()
  }

  private def reply(json: String): Unit = {
    println("@@PB " + json)
    System.out.flush()
  }
}

/** One workload's program-side steps. */
trait Workload {
  /** Work done once before timed runs (not the warm-up run). */
  def setup(sp: Spans): Unit = ()
  /** One operation, writing everything it produces under `out`. */
  def op(out: String, sp: Spans, traced: Boolean): Unit

  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  protected def count(name: String, n: Long): Unit =
    counts(name) = counts.getOrElse(name, 0L) + n
  def takeCounts(): Map[String, Long] = {
    val c = counts.toMap
    counts.clear()
    c
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String): Workload =
    name match {
      case "tsa_workbook" => new Tsa(spark, inputs, work)
      case "doc_curation" => new Curation(spark, inputs)
      case other => sys.error(s"unknown workload: $other")
    }
}

/** A TsaBatch run of the sheet CSVs, with the xlsx, pptx and png report
  * sinks, over an observation store that set-up builds from the LOTJU
  * dumps with LotjuIngest.ingest.
  */
final class Tsa(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val store = s"$work/store"
  private val sheets: Vector[(String, String)] = {
    val dir = Paths.get(inputs, "sheets")
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector)
      .filter(_.toString.endsWith(".csv")).sortBy(_.toString)
      .map(p => p.getFileName.toString.stripSuffix(".csv") -> Files.readString(p))
  }

  override def setup(sp: Spans): Unit = {
    Files.createDirectories(Paths.get(work))
    sp.span("ingest.run") {
      LotjuIngest.ingest(spark, s"$inputs/mitta/*.csv", s"$inputs/anturi/*.csv",
        s"$inputs/meta/stations.csv", s"$inputs/meta/sensors.csv", store)
    }
  }

  def op(out: String, sp: Spans, traced: Boolean): Unit =
    if (traced) TracedBatch.run(spark, sheets, store, out, "bench", sp)
    else TsaBatch.run(spark, sheets, store, out, "bench", xlsx = true, pptx = true, png = true)
}

/** Incremental curation into a fresh snapshot store: the base corpus is
  * cleaned and committed as version 0, then each batch is quality
  * filtered, exact-deduplicated, near-deduplicated against the committed
  * corpus and appended. Writes the final store's doc ids to
  * `survivors.txt`.
  */
final class Curation(spark: SparkSession, inputs: String) extends Workload {
  private val Shingle = 3
  private val Threshold = 0.7
  private val batches: Int =
    scala.util.Using.resource(Files.list(Paths.get(inputs)))(
      _.iterator().asScala.count(_.getFileName.toString.startsWith("batch_")))

  def op(out: String, sp: Spans, traced: Boolean): Unit = {
    val root = s"$out/store"
    // counts come from frames already materialized by localCheckpoint;
    // they are taken on traced runs only
    def counted(name: String, df: DataFrame): DataFrame = {
      if (traced) count(name, df.count())
      df
    }
    def clean(b: Int): DataFrame = {
      val batch = counted("docs_in", spark.read.parquet(s"$inputs/batch_$b.parquet"))
      val kept = counted("quality_kept", sp.span("operators.quality") {
        batch.filter(TextOps.qualityScore(col("text")) >= 0.5).localCheckpoint()
      })
      counted("exact_kept", sp.span("operators.exact_dedup") {
        Dedup.exactDedup(kept, "doc_id", "text").localCheckpoint()
      })
    }
    val base = clean(0)
    sp.span("sources.commit")(SnapshotStore.init(spark, base, root, "doc_id"))
    count("commits", 1)
    if (traced) count("near_kept", base.count())
    for (b <- 1 until batches) {
      val fresh = clean(b)
      val corpus = sp.span("sources.read")(SnapshotStore.read(spark, root).localCheckpoint())
      val novel = counted("near_kept", sp.span("operators.near_dup") {
        val bands = Dedup.bandedSignatures(corpus, "doc_id", "text", Shingle)
        val best = Dedup.incrementalNearDups(bands, corpus, fresh, "doc_id", "text",
          Shingle, Threshold)
        fresh.join(best.filter(col("dup_of").isNull).select("doc_id"), "doc_id")
          .localCheckpoint()
      })
      sp.span("sources.commit")(SnapshotStore.append(spark, novel, root))
      count("commits", 1)
    }
    val ids = sp.span("sources.read") {
      SnapshotStore.read(spark, root).select("doc_id").collect().map(_.getLong(0)).sorted
    }
    Files.writeString(Paths.get(out, "survivors.txt"), ids.mkString("\n") + "\n")
  }
}

/** Just enough JSON for the reply lines. */
object Json {
  /** An already rendered JSON value. */
  final case class Raw(text: String) { override def toString: String = text }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}"))

  private def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
      .mkString("{", ", ", "}")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
