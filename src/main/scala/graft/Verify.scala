package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(sf, out) => (sf, out)
      case _ => sys.error("usage: graft.Verify <sfDir> <outDir>")
    }
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    // comma-separated key filter for targeted local triage (the
    // SPARK_GRAFT_BENCH_KEYS pattern); unset = the full driver gate.
    // The oracle dump filters to the same keys so the local compare
    // script doesn't flag the unrun ones as missing. A `_filtered`
    // marker lands beside it (and a full run REMOVES it): a filtered
    // rewrite of a dir holding a previous full dump must not read as
    // "all keys pass" with coverage silently shrunk — the compare
    // script prints the marker (the bench_filtered.json discipline,
    // Verify side).
    val keyFilter = sys.env.get("SPARK_GRAFT_VERIFY_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a filter naming no real key (typo / empty env var) must refuse
    // loudly, not dump zero keys that read as "nothing failed"
    // (round-15 review; same guard in Bench)
    keyFilter.foreach { ks =>
      val unknown = ks.diff(SparkEntry.queries.keySet)
      require(ks.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_KEYS names no runnable keys: " +
          (if (ks.isEmpty) "empty filter" else s"unknown ${unknown.mkString(", ")}"))
    }
    val marker = Paths.get(s"$outDir/_filtered")
    // the FULL-run marker delete is deferred until after the full
    // oracle_sql.json write lands (bottom of main): deleting up front
    // left a crash window where a marker-less dir still held the
    // previous FILTERED run's oracle_sql.json, and the compare script
    // printed an unqualified "N/N match" over shrunken coverage — the
    // exact misread the marker exists to prevent.
    // The filtered path mirrors the discipline (round-13 advice): the
    // PREVIOUS run's oracle is deleted before the new marker lands, so
    // a crash before this run's oracle write leaves marker-without-
    // oracle — a loud compare failure — never a fresh marker beside a
    // stale oracle it doesn't describe.
    keyFilter.foreach { ks =>
      Files.deleteIfExists(Paths.get(s"$outDir/oracle_sql.json"))
      Files.writeString(marker, ks.toSeq.sorted.mkString(","))
      ()
    }
    def selected(name: String) = keyFilter.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        // delete the PREVIOUS run's result FIRST (round-15 review): a
        // key failing at analysis time — before the overwrite's own
        // delete — used to leave stale parquet behind, and the DuckDB
        // compare silently passed a query that no longer runs. With
        // the dir gone, a failure surfaces in the compare as "result
        // unreadable" — machine-readable through the existing gate.
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
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
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full run: only now is the dump coverage-complete — clear the
    // stale filtered marker AFTER the full oracle write succeeded
    if (keyFilter.isEmpty) Files.deleteIfExists(marker)
    spark.stop()
  }
}
