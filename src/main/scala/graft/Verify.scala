package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Parse `SPARK_GRAFT_EXTRA_CONF` ("k=v,k=v"). A comma inside a value
    * (e.g. excludedRules=ruleA,ruleB) is re-joined onto the preceding pair
    * — a token without '=' can only be a value fragment; a LEADING token
    * without '=' has nothing to attach to and is dropped with a warning
    * instead of crashing the run with a MatchError. */
  private[graft] def parseExtraConf(s: String): Seq[(String, String)] =
    s.split(",").map(_.trim).filter(_.nonEmpty).foldLeft(List.empty[(String, String)]) {
      case (acc, tok) if tok.contains("=") =>
        val Array(k, v) = tok.split("=", 2); (k, v) :: acc
      case ((k, v) :: rest, tok) => (k, s"$v,$tok") :: rest
      case (Nil, tok) =>
        System.err.println(s"[verify] ignoring malformed SPARK_GRAFT_EXTRA_CONF token '$tok' (no '=')")
        Nil
    }.reverse

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query names to run (default: all)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional scheduler-level overrides, e.g. the speculation soak:
    //   SPARK_GRAFT_EXTRA_CONF="spark.speculation=true,spark.speculation.quantile=0.5"
    val spark = GraftSession(cpus.toInt, sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parseExtraConf))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
