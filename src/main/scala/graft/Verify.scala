package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The correctness gate runs with the full engine attached (native
    // functions, TopKPerKey strategy, window-top-k rewrite) so the
    // custom-operator path is oracle-checked, not just spec-checked.
    val spark = GraftSession.createLocal()
    new java.io.File(outDir).mkdirs()
    // Drop stale per-query dirs from a previous run of a DIFFERENT
    // registry (a renamed or removed query would otherwise linger in
    // the compare as a phantom rows-only entry)
    val live = SparkEntry.queries.keySet
    // Only delete what THIS tool wrote: a stale dir must look like a
    // verify-produced parquet output — the commit marker (_SUCCESS),
    // or, for a run that crashed mid-write (no marker yet), at least
    // one parquet part file or Spark staging entry (part-*/_temporary)
    // and nothing but part/metadata files beside it — and the
    // recursive walk never follows symlinks. A mispointed outDir or a
    // stray link must not let the cleanup reach unrelated data (a
    // foreign dir holding only dot-files does NOT qualify), while a
    // partial dir of a renamed query — even one killed before its
    // first part file landed — must not linger as a phantom entry.
    def verifyProduced(f: java.io.File): Boolean = {
      // Spark's own write-protocol names — an arbitrary '_'-prefixed
      // file (e.g. a foreign dir's _notes.md) must NOT qualify, so
      // the positive evidence is a part file or a KNOWN marker.
      def sparkMarker(n: String): Boolean =
        n == "_SUCCESS" || n == "_temporary" || n == "_metadata" ||
          n == "_common_metadata" || n.startsWith("_committed") ||
          n.startsWith("_started")
      new java.io.File(f, "_SUCCESS").exists() || {
        val names = Option(f.list()).getOrElse(Array.empty)
        names.exists(n => n.startsWith("part-") || sparkMarker(n)) &&
          names.forall(n =>
            n.startsWith("part-") || sparkMarker(n) ||
              n.startsWith(".") || n.endsWith(".crc"))
      }
    }
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !Files.isSymbolicLink(f.toPath)
        && !live.contains(f.getName) && verifyProduced(f))
      .foreach { f =>
        System.err.println(s"[verify] dropping stale output ${f.getName}")
        def rm(x: java.io.File): Unit = {
          if (!Files.isSymbolicLink(x.toPath))
            Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(); ()
        }
        rm(f)
      }
    // One retry per query: every registered query is deterministic, so
    // a second attempt can only fail the same way on a genuine defect —
    // but it absorbs transient environment hiccups (tmp-dir pressure,
    // a slow stream drain) that would otherwise erase a green query
    // from the round's correctness record.
    // Dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those queries
    // (the driver never sets it, so the graded run is always the full
    // registry). oracle_sql.json still carries every oracle — the
    // checker looks entries up by dumped-dir name.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // The checker compares each dump in DuckDB with oracle SQL whose
    // timestamps are plain TIMESTAMP: INT96 reads that way, the engine's
    // UTC-adjusted INT64 reads as TIMESTAMP WITH TIME ZONE.
    GraftSession.scoped(spark, "spark.sql.parquet.outputTimestampType" -> "INT96") { dumps =>
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          def attempt(): Unit = fn(dumps, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          try attempt()
          catch { case e1: Throwable =>
            System.err.println(s"[verify] $name failed once, retrying: ${e1.getMessage}")
            try attempt()
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
