package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: the correctness gate is only as strong
  * as its coverage, so EVERY declared query must carry a DuckDB oracle
  * — a new operator landing without one silently downgrades its gate to
  * rows-only, which this spec turns into a build failure.
  */
class ContractSpec extends AnyFunSuite {

  /** Deliberate rows-only exceptions — EMPTY as of round 11: the
    * former q_compress_ratio exemption (zlib has no DuckDB twin) was
    * retired by re-gating the signal as a row-local distinct-shingle
    * bound with a full oracle; the Deflate ratio survives as API only
    * (TextOps.compressionRatio, spec-pinned). Growing this set is a
    * design decision, not an accident — hence the explicit allowlist.
    */
  private val rowsOnlyByDesign = Set.empty[String]

  test("every query has an oracle; no orphan oracle entries") {
    val queries = SparkEntry.queries.keySet -- rowsOnlyByDesign
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty,
      s"queries missing an oracle: ${(queries -- oracles).toSeq.sorted.mkString(", ")}")
    assert((oracles -- queries).isEmpty,
      s"oracles without a query: ${(oracles -- queries).toSeq.sorted.mkString(", ")}")
  }

  test("query names are unique across the five def maps") {
    val maps = Seq(queries.Relational.defs, queries.TsaQueries.defs,
      queries.TrainQueries.defs, queries.PipelineQueries.defs,
      queries.CurationQueries.defs)
    val total = maps.map(_.size).sum
    assert(maps.flatMap(_.keys).distinct.size == total,
      "duplicate query name across Relational/TsaQueries/TrainQueries/PipelineQueries/CurationQueries")
  }

  test("memory-sink stream gates go through the one StreamGate harness") {
    val files = new java.io.File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, "queries/ sources not found")
    val offenders = for {
      f <- files.toSeq
      src = scala.util.Using.resource(scala.io.Source.fromFile(f))(_.mkString)
      pattern <- Seq("format(\"memory\")", "createTempDirectory(\"q_stream")
      if src.contains(pattern)
    } yield s"${f.getName}: $pattern"
    assert(offenders.isEmpty,
      s"stream-gate lifecycle outside StreamGate: ${offenders.mkString(", ")}")
  }
}
