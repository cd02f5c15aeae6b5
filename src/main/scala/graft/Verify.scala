package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names for a targeted re-check
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Engine.createSession("graft-verify", Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val declared = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    declared.foreach { case (name, fn) =>
      spark.catalog.clearCache() // per-query working sets, see Bench
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
      }
    }
    // JSON string escaping delegates to the engine's own renderer (one
    // tested implementation; a control char in builder-authored SQL would
    // otherwise make the driver's json.load silently zero the round).
    def q(s: String): String = graft.json.Json.render(graft.json.JString(s))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A failed query must surface as a red row, never as a shrunken
    // denominator: record every declared name plus per-query failure
    // messages so the checker can diff outputs against declarations.
    val failedJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    val declaredJson = declared.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    Files.writeString(Paths.get(s"$outDir/declared.json"), declaredJson)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size}/${declared.size} queries FAILED: " +
        failed.keys.mkString(", "))
    }
    spark.stop()
  }
}
