package perfbench

import graft.cli.{Pptx, RasterTimeline, SvgTimeline, Xlsx}
import graft.dsl.{ErrorNode, SheetParser, Validation}
import graft.engine.TsaEngine
import graft.model.SecondaryBlock
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.{Files, Paths}

/** `graft.cli.TsaBatch.run`, recomposed from the same public calls in
  * the same order, with a span around each layer's call:
  *
  *   dsl.parse            SheetParser.parse, every sheet up front
  *   engine.run           TsaEngine.run, once per sheet
  *   core.summary         the first action per condition (pack + eval)
  *   cli.condition_write  the per-condition parquet write
  *   cli.timeline         the timeline collect behind the plots/slides
  *   cli.report           Xlsx, Pptx and RasterTimeline writers
  *   engine.release       TsaEngine.release after each sheet
  *
  * The report sinks are the ones the benchmark turns on in TsaBatch.run
  * (xlsx, pptx, png). The files written equal TsaBatch.run's, which the
  * output checker verifies by comparing the traced and untraced runs.
  */
object TracedBatch {

  def run(spark: SparkSession, sheets: Vector[(String, String)], obsPath: String,
          outDir: String, name: String, sp: Spans): Unit = {
    val obs = spark.read.parquet(obsPath)
    val engine = new TsaEngine(spark)
    val summaryRows = Vector.newBuilder[String]
    summaryRows += "collection,site,master_alias,condition,data_from,data_until," +
      "valid_s,notvalid_s,nodata_s,tottime_s,percent_valid,percent_notvalid,percent_nodata,n_rows"
    var collNodes = Map.empty[String, ErrorNode]
    val workbook = Vector.newBuilder[(String, Seq[Seq[Xlsx.Cell]])]
    val infoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val analysisStarted = java.time.LocalDateTime.now().format(infoFmt)
    val deck = Vector.newBuilder[Pptx.Slide]

    val parsedSheets = sp.span("dsl.parse") {
      sheets.map { case (title, csv) => title -> SheetParser.parse(title, csv) }
    }
    val secondaryRefs: Vector[Set[String]] = parsedSheets.map {
      case (_, p) => p.spec.map(_.conditions.flatMap(_.blocks.collect {
        case s: SecondaryBlock => s.sourceView
      }).toSet).getOrElse(Set.empty)
    }

    for (((title, parsed), sheetIdx) <- parsedSheets.zipWithIndex) {
      var condNodes = parsed.conditionErrors.map { case (id, ce) =>
        id -> ErrorNode(id, ce.messages)
      }
      val wsRows = Vector.newBuilder[Seq[Xlsx.Cell]]
      parsed.spec.foreach { spec =>
        def ts(ldt: java.time.LocalDateTime) = Xlsx.Ts(
          java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)))
        wsRows += Seq(Xlsx.Str("start", bold = true), Xlsx.Str("end", bold = true),
          Xlsx.Blank, Xlsx.Str("analyzed", bold = true))
        wsRows += Seq(ts(spec.timeFrom), ts(spec.timeUntil), Xlsx.Blank,
          Xlsx.Ts(new java.sql.Timestamp(System.currentTimeMillis())))
        wsRows += Seq("site", "master_alias", "condition", "data_from",
          "data_until", "valid", "notvalid", "nodata", "rows")
          .map(h => Xlsx.Str(h, bold = true))
        val results = sp.span("engine.run") {
          engine.run(spec, obs, Validation.localSensorIds)
        }
        for (r <- results) {
          if (r.errors.nonEmpty) {
            val prev = condNodes.get(r.spec.idString).map(_.errors).getOrElse(Nil)
            condNodes += r.spec.idString ->
              ErrorNode(r.spec.idString, prev ++ r.errors.messages)
          }
          if (r.summary != null) {
            val s = sp.span("core.summary")(r.summary.collect()(0))
            def tsOr(c: String): Xlsx.Cell = {
              val v = toTs(s.getAs[Any](c))
              if (v == null) Xlsx.Blank else Xlsx.Ts(v)
            }
            wsRows += Seq(Xlsx.Str(r.spec.site), Xlsx.Str(r.spec.masterAlias),
              Xlsx.Str(r.spec.rawCondition), tsOr("data_from"), tsOr("data_until"),
              Xlsx.Pct(s.getAs[Double]("percent_valid")),
              Xlsx.Pct(s.getAs[Double]("percent_notvalid")),
              Xlsx.Pct(s.getAs[Double]("percent_nodata")),
              Xlsx.Num(s.getAs[Long]("n_rows").toDouble))
            summaryRows += List(title, r.spec.site, r.spec.masterAlias,
              "\"" + r.spec.rawCondition.replace("\"", "\"\"") + "\"",
              toTs(s.getAs[Any]("data_from")),
              toTs(s.getAs[Any]("data_until")),
              s.getAs[Long]("valid_s"), s.getAs[Long]("notvalid_s"),
              s.getAs[Long]("nodata_s"), s.getAs[Long]("tottime_s"),
              s.getAs[Double]("percent_valid"), s.getAs[Double]("percent_notvalid"),
              s.getAs[Double]("percent_nodata"), s.getAs[Long]("n_rows")).mkString(",")
            sp.span("cli.condition_write") {
              r.data.coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/conditions/${r.spec.idString}")
            }
            val tl = sp.span("cli.timeline")(timelineOf(r))
            if (tl._2.nonEmpty) {
              val plots = Paths.get(s"$outDir/plots")
              Files.createDirectories(plots)
              sp.span("cli.report") {
                RasterTimeline.write(
                  plots.resolve(s"${title}_${r.spec.idString}.png"), tl._1, tl._2)
              }
            }
            deck += slideFor(title, r, Some(s), Some(tl).filter(_._2.nonEmpty))
          } else
            deck += slideFor(title, r, None, None)
        }
      }
      collNodes += title -> ErrorNode(title, parsed.sheetErrors.messages, condNodes)
      workbook += title -> wsRows.result()
      sp.span("engine.release") {
        engine.release(keep =
          secondaryRefs.drop(sheetIdx + 1).foldLeft(Set.empty[String])(_ ++ _))
      }
    }

    Files.writeString(Paths.get(s"$outDir/${name}_summary.csv"),
      summaryRows.result().mkString("\n") + "\n")
    sp.span("cli.report") {
      val infoSheet = "INFO" -> Seq(
        Seq[Xlsx.Cell](Xlsx.Str(analysisStarted), Xlsx.Str("analysis started")),
        Seq[Xlsx.Cell](Xlsx.Str(java.time.LocalDateTime.now().format(infoFmt)),
          Xlsx.Str("analysis ended")))
      Xlsx.write(Paths.get(s"$outDir/$name.xlsx"), infoSheet +: workbook.result())
      Pptx.write(Paths.get(s"$outDir/$name.pptx"), deck.result())
    }
    val tree = ErrorNode(name, Nil, collNodes)
    if (tree.hasAny)
      Files.writeString(Paths.get(s"$outDir/${name}_ERRORS.json"), tree.toJson)
  }

  // The helpers below restate TsaBatch's private ones: the timeline lane
  // model and the slide layout built from a condition's result.

  private def toTs(v: Any): java.sql.Timestamp = v match {
    case null => null
    case t: java.sql.Timestamp => t
    case l: java.time.LocalDateTime =>
      java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC))
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case other => sys.error(s"not a timestamp value: $other (${other.getClass})")
  }

  private def timelineOf(r: TsaEngine#ConditionResult)
      : (Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range]) = {
    val cols = r.data.columns
    val aliases = cols.drop(3).dropRight(1).toSeq
    val logic = r.spec.blocks.map(b => b.alias -> b.rawLogic).toMap
    val lanes = aliases.map(a => SvgTimeline.Lane(a, logic.getOrElse(a, ""))) :+
      SvgTimeline.Lane("master", r.spec.aliasCondition)
    val ranges = r.data.collect().toSeq.map { row =>
      SvgTimeline.Range(
        toTs(row.get(0)).getTime / 1000,
        toTs(row.get(1)).getTime / 1000,
        (3 until cols.length).map(i =>
          if (row.isNullAt(i)) None else Some(row.getBoolean(i))))
    }
    (lanes, ranges)
  }

  private def slideFor(title: String, r: TsaEngine#ConditionResult, s: Option[Row],
                       timeline: Option[(Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range])])
      : Pptx.Slide = {
    def dmy(d: java.time.LocalDate) =
      f"${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}"
    val timeRange = s.flatMap { row =>
      val f = toTs(row.getAs[Any]("data_from"))
      val u = toTs(row.getAs[Any]("data_until"))
      if (f == null || u == null) None
      else {
        val fmt = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm")
        def t(ts: java.sql.Timestamp) =
          ts.toInstant.atZone(java.time.ZoneOffset.UTC).format(fmt)
        Some(s"Datan tarkasteluväli ${t(f)}-${t(u)}")
      }
    }.getOrElse("Ei dataa saatavilla")
    def delta(c: String) = s.map(row => fmtDelta(row.getAs[Long](c))).getOrElse("-")
    def pct(c: String) = s.map(row => "%.2f %%".formatLocal(java.util.Locale.ROOT,
      row.getAs[Double](c) * 100)).getOrElse("-")
    Pptx.Slide(
      header = s"TSA report: $title ${dmy(java.time.LocalDate.now())}",
      title = r.spec.idString,
      body = r.spec.rawCondition,
      timeRange = timeRange,
      table = Seq(
        Seq("", "Voimassa", "Ei voimassa", "Tieto puuttuu"),
        Seq("Yhteensä", delta("valid_s"), delta("notvalid_s"), delta("nodata_s")),
        Seq("Osuus tarkasteluajasta",
          pct("percent_valid"), pct("percent_notvalid"), pct("percent_nodata"))),
      errors = r.errors.messages.mkString("; "),
      timeline = timeline,
      footer = "graft TSA engine")
  }

  private def fmtDelta(secs: Long): String =
    s"${secs / 86400} pv ${secs % 86400 / 3600} h ${secs % 3600 / 60} min"
}
