package graft.ops

import org.apache.spark.sql.functions._

import graft.dwca.DwcaArchive

/** DwC-Archive source operators (SURVEY §2.1 S1/S2/S5) registered against
  * the driver's oracle: the engine reads the reference's own fixture
  * archives (meta.xml-described CSV, positional term naming, id/coreid
  * convention) and DuckDB re-reads the same files via `read_csv` — so the
  * whole ingestion path (dialect options, header skip, all-string typing,
  * column naming) is hash-compared, not just unit-tested.
  *
  * The fixtures are part of the repo (copies of the reference's test
  * archives), so these queries ignore the sfDir parameter.
  */
object ArchiveQueries {

  /** Fixture base directory, resolved at first use rather than hard-coded:
    * `GRAFT_FIXTURES_DIR` env override first (packaged-jar deployments),
    * then the conventional repo-relative location from the process working
    * directory, then the canonical checkout path. Absolute-ized so the
    * same string works for both the Spark reader and the DuckDB oracle SQL
    * (which may run in a different working directory).
    */
  private lazy val fixturesBase: String = {
    val candidates = sys.env.get("GRAFT_FIXTURES_DIR").toSeq ++
      Seq("src/test/resources", "/root/repo/src/test/resources")
    val base = candidates
      .find(p => new java.io.File(p, "occurrence_archives/dwca-simple").isDirectory)
      .getOrElse(throw new IllegalStateException(
        s"DwC fixture archives not found under any of ${candidates.mkString(", ")}; " +
          "set GRAFT_FIXTURES_DIR to the directory containing occurrence_archives/"))
    new java.io.File(base).getAbsolutePath
  }

  private lazy val occSimple = s"$fixturesBase/occurrence_archives/dwca-simple"
  private lazy val eventSimple = s"$fixturesBase/event_archives/dwca-simple"

  def queries: Seq[GraftQuery] = Seq(

    // S1 + S5 — core read with meta.xml dialect: all columns arrive as
    // strings named by DwC term local names; row order pinned by id.
    // Reads THROUGH the DSv2 provider (format("dwca")) — the catalog-table
    // ingestion shape with column pruning pushed to the scan, and the one
    // dialect reader DwcaArchive.read (so the validator) loads through too.
    GraftQuery.of("q_s1_archive_core_read",
      s"""SELECT id, occurrenceID, scientificName, decimalLatitude,
         |  decimalLongitude, eventDate, recordedBy, geodeticDatum, basisOfRecord
         |FROM read_csv('$occSimple/occurrence.txt', header = true, all_varchar = true)
         |ORDER BY CAST(id AS BIGINT)""".stripMargin) { (s, _) =>
      s.read.format("dwca").option("path", occSimple).load()
        .orderBy(col("id").cast("long"))
    },

    // S2 — extension read + the core ⋈ extension star join on id = coreid
    // (extension columns arrive prefixed with the extension row type).
    // Both sides mount via the DSv2 provider; the join is the SAME
    // DwcaArchive.starJoin that DwcaArchive.joined uses.
    GraftQuery.of("q_s2_archive_join",
      s"""SELECT c.id, c.eventID, c.eventDate, e.coreid,
         |  e.occurrenceStatus AS occurrence_occurrenceStatus,
         |  e.basisOfRecord AS occurrence_basisOfRecord
         |FROM read_csv('$eventSimple/event.txt', header = true, all_varchar = true) c
         |LEFT JOIN (
         |  SELECT column0 AS coreid, column1 AS occurrenceStatus, column2 AS basisOfRecord
         |  FROM read_csv('$eventSimple/occurrence.txt', header = false, skip = 1,
         |                all_varchar = true)
         |) e ON c.id = e.coreid
         |ORDER BY CAST(c.id AS BIGINT)""".stripMargin) { (s, _) =>
      val core = s.read.format("dwca").option("path", eventSimple).load()
      val ext = s.read.format("dwca").option("path", eventSimple)
        .option("table", "Occurrence").load()
      DwcaArchive.starJoin(core, ext, "Occurrence")
        .select(col("id"), col("eventID"), col("eventDate"), col("coreid"),
          col("occurrence_occurrenceStatus"), col("occurrence_basisOfRecord"))
        .orderBy(col("id").cast("long"))
    },

    // X16 — DSv2 COUNT(*) aggregate pushdown under the oracle hash: the
    // archive-cardinality probe answers INSIDE the scan (one emitted
    // long, no row materializes), and the registered query REQUIRES the
    // pushed aggregate in its own physical plan before returning — a
    // regression to a row-scan count fails the correctness gate, not
    // just a spec. The oracle counts the same CSV rows in DuckDB.
    GraftQuery.of("q_s1_archive_count_pushdown",
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows
         |FROM read_csv('$occSimple/occurrence.txt', header = true,
         |              all_varchar = true)""".stripMargin) { (s, _) =>
      val df = s.read.format("dwca").option("path", occSimple).load()
        .agg(count(lit(1)).as("n_rows"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.size == 1 &&
        scans.head.scan.description().contains("PushedAggregates: [COUNT(*)]"),
        s"COUNT(*) did not push into the DwCA scan:\n" +
          df.queryExecution.executedPlan.toString.take(2000))
      df
    },

    // X22 — the AT-SCALE ingestion probe (r14 verdict item 8): the same
    // pushed COUNT(*) against a ~110 MB synthetic zip archive (1.2M rows,
    // deterministic, built once per box — graft.dwca.SyntheticArchive),
    // where the plan shape actually matters: the pushed count advances
    // CSV records without materializing or projecting a single row, and
    // this row REQUIRES that plan before returning. The input is
    // SF-independent by construction, so the timing reproduces across
    // gates like the fixture rows'. DuckDB re-counts the retained
    // uncompressed core file — a real cross-engine count of the same
    // bytes, not a pinned constant; the engine reads the ZIP (paying
    // real extraction, the "how many rows is this 40 GB zip?" shape).
    GraftQuery.of("q_s1_archive_scale_count",
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows
         |FROM read_csv('${graft.dwca.SyntheticArchive.coreFile.getAbsolutePath}',
         |              header = true, all_varchar = true)""".stripMargin) { (s, _) =>
      val zip = graft.dwca.SyntheticArchive.ensure()
      val df = s.read.format("dwca").option("path", zip.getAbsolutePath).load()
        .agg(count(lit(1)).as("n_rows"))
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      require(scans.size == 1 &&
        scans.head.scan.description().contains("PushedAggregates: [COUNT(*)]"),
        s"COUNT(*) did not push into the DwCA scale scan:\n" +
          df.queryExecution.executedPlan.toString.take(2000))
      df
    })
}
