package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** CSV payload row count + sink — SURVEY §2 C4/C5.
  *
  * Sink mirrors the single-file-per-report layout
  * `…/{report}/{from}_to_{to}.csv`
  * (`databricks/talkdesk_databricks_etl.py:441-446`,
  * `local/async_utils.py:132-140`) through [[writeTextVerbatim]], the
  * local variant's raw passthrough: exact filename, no Spark job. Correct
  * for API-sized payloads (bounded per report by contract,
  * `README.md:204-207`).
  */
object CsvIO {

  /** The data lines of a raw CSV payload: split on `\r?\n` (HTTP
    * payloads may be CRLF), empty lines and the header dropped.
    */
  def dataLines(text: String): Iterator[String] =
    text.split("\r?\n").iterator.filter(_.nonEmpty).drop(1)

  /** Count data rows of a raw CSV payload without a Spark job — the
    * reference's `len(df)` (`databricks/talkdesk_databricks_etl.py:438`)
    * only ever feeds `rows_written`, so a full parse is wasted work.
    */
  def countCsvRows(text: String): Int = dataLines(text).size

  def outputPath(baseDir: String, reportName: String, fromDate: String, toDate: String): String =
    s"$baseDir/$reportName/${fromDate}_to_$toDate.csv"

  /** C5, local-variant fidelity: verbatim text write with mkdirs. */
  def writeTextVerbatim(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }
}
