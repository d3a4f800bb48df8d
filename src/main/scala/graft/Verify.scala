package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg (dev only; the driver passes two): comma-separated
    // query names to run, for fast single-query iteration.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = graft.engine.GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      Runs.time(fn(spark, sfDir))(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")) match {
        case Right(r) =>
          println(f"[verify] $name build_s=${r.buildS}%.3f write_s=${r.runS}%.3f " +
            s"build_compiles=${r.buildCompiles} write_compiles=${r.runCompiles}")
        case Left(e) =>
          System.err.println(s"[verify] $name failed: ${Runs.cause(e)}")
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
    // A subset run lists only its own queries' oracles, so the compare
    // counts every listed key without a result as missing.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
