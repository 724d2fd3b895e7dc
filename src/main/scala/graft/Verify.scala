package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY: comma-separated subset of query names —
    // the fast local loop for re-gating a few changed operators
    // (unset = the full surface, which is what the driver runs)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Fail-loud driver-comparator contract (VERDICT r13 #1b): the
        // pandas compare cannot hash array/map/struct cells, so a
        // nested top-level column is an automatic red gate — catch it
        // HERE, before the driver does, instead of shipping it.
        val nested = OutputContract.unhashableColumns(df.schema)
        if (nested.nonEmpty)
          throw new IllegalStateException(
            s"gated output has pandas-unhashable columns (${nested.mkString(", ")}) " +
              "— array_join(...,'|') them per the r01 convention")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${failed(name)}")
      } finally {
        // nothing a gate pinned or truncated outlives the gate
        graft.plans.Checkpoint.release()
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Round 10 lesson (ADVICE r10 #1/#2): a query that fails to execute
    // must fail the ROUND, not silently vanish from the compare (27
    // events queries were dropped from CORRECTNESS_r10 and the file
    // read as 100% pass). Dump the failures where the driver can see
    // them and exit nonzero so the artifact records a failed run.
    if (failed.nonEmpty) {
      val ferr = failed.map { case (k, v) => s"${q(k)}: ${q(v.take(300))}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"), ferr)
      System.err.println(
        s"[verify] ${failed.size} queries FAILED to execute: " +
          failed.keys.mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
