package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // mark the session oracle-gated: operators whose oracles replay
    // fixed-parameter ground truth (the graph family's 4-plane LSH
    // matrix) fail LOUD here instead of silently diverging when an
    // adaptive parameter engages (Similarity.adaptivePlanes)
    sys.props("graft.oracle.gated") = "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // the two bounded prefix-sum windows warn on every run — expected;
    // must come AFTER setLogLevel (which wipes scoped logger overrides)
    Bench.quietExpectedWindowWarn()
    new java.io.File(outDir).mkdirs()
    // r10 advisor: avgQL/ratioR's NON-NEGATIVITY contract is load-bearing
    // (Java truncating vs DuckDB flooring long division split on negative
    // quotients), and several registered rows apply them to events.value
    // relying on the fixture's value >= 0 invariant. Check it here, once
    // per correctness session, so a future generator change fails LOUD
    // instead of silently flipping a division tie.
    val minEventValue = Queries.events(spark, sfDir)
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.col("value"))).head().getDouble(0)
    require(minEventValue >= 0.0,
      s"events.value >= 0 fixture invariant violated (min=$minEventValue): " +
        "avgQL/ratioR call sites on events.value assume non-negative quotients")
    // optional comma-separated filter for local iteration; driver sets none
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the query loop (r14 judge ask
    // #2): the driver's compare keys on this file, and writing it last
    // meant any kill of the verify phase — r14's 60-minute window kill —
    // zeroed the WHOLE round's correctness ({}). Written first, a
    // premature kill still yields a partial compare over every query
    // dumped so far. The SQL map is pure (no Spark session needed), so
    // there is nothing the reorder can stale.
    // the dump respects SPARK_GRAFT_VERIFY_ONLY so a local subset run's
    // check_oracle.py compare covers exactly the queries dumped (the
    // driver sets no filter → full map, unchanged)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val verifyStart = System.nanoTime()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // one progress line per query (r14 judge ask #2): a driver-side
      // slowdown must be diagnosable from the artifact's stderr tail —
      // which query was running, how long it took, total elapsed
      System.err.println(f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1fs" +
        f" (elapsed ${(System.nanoTime() - verifyStart) / 1e9}%.0fs)")
      // drop caches AND localCheckpoint blocks (clearCache never frees the
      // latter) so 60+ queries of residue can't squeeze later ones
      Bench.sweep(spark)
    }
    spark.stop()
  }
}
