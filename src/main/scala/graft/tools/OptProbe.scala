package graft.tools

import org.apache.spark.sql.functions._

/** r18 optimization-round micro-probe: isolates the per-row cost of the
  * TRY-family error paths (exception-based NULLs) so the lowering choice is
  * measured, not guessed (guide §1). Each case runs the same 150k-row
  * projection + noop write; only the error-path construction differs.
  * Usage: sbt "runMain graft.tools.OptProbe [rows] [passes]"
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 150000L
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Engine.createSession("graft-opt-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.range(0, rows, 1, 8)
      .select(col("id"),
        concat(lit("PRIO-"), (col("id") % 5).cast("string")).as("prio"),
        when(col("id") % 2 === 0,
          concat(lit("""{ "a" : """), col("id").cast("string"), lit(" }")))
          .otherwise(lit("{broken")).as("doc"))
      .cache()
    base.count()

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit =
      (1 to passes).foreach { i =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        println(f"[optprobe] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }

    val tryE = graft.functions.ErrorSafeFunctions.tryEval _
    def rawTryEval(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftshim.column(
        org.apache.spark.sql.catalyst.expressions.TryEval(
          org.apache.spark.sql.graftshim.expression(c)))
    // A0: the OLD lowering — TryEval over an ANSI cast that throws per row
    time("tryeval_ansi_cast")(base.select(rawTryEval(expr("cast(prio as int)")).as("x")))
    // A1: the NEW lowering (tryLower strength reduction)
    time("trylower_cast")(base.select(tryE(expr("cast(prio as int)")).as("x")))
    // B: Spark's own try_cast (Cast with EvalMode.TRY)
    time("try_cast_builtin")(base.select(expr("try_cast(prio as int)").as("x")))
    // C: control — a cast that always succeeds
    time("cast_ok")(base.select(expr("cast(substr(prio, 6, 1) as int)").as("x")))
    // D: TRY(json_parse) with 50% malformed rows
    time("try_json_parse")(base.select(
      tryE(graft.functions.PrestoJsonFunctions.jsonParse(col("doc"))).as("x")))
    // E: json_parse on the valid half only (parse cost without exceptions)
    time("json_parse_valid")(base.filter(col("id") % 2 === 0).select(
      graft.functions.PrestoJsonFunctions.jsonParse(col("doc")).as("x")))

    // real-table decomposition of q_try_presto (sf0.1 orders): which leg
    // carries the 4 s?
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    time("orders_scan_sort")(orders.select(col("o_orderkey")).orderBy("o_orderkey"))
    time("orders_doc_json")(orders
      .withColumn("doc",
        when(col("o_orderkey") % 2 === 0,
          concat(lit("""{ "a" : """), col("o_custkey").cast("string"), lit(" }")))
          .otherwise(lit("{broken")))
      .select(col("o_orderkey"),
        tryE(graft.functions.PrestoJsonFunctions.jsonParse(col("doc"))).as("canon")))
    time("orders_badcast")(orders.select(col("o_orderkey"),
      tryE(expr("cast(o_orderpriority AS int)")).as("bad_cast")))
    time("orders_safediv")(orders.select(col("o_orderkey"),
      tryE(expr("round(cast(o_totalprice / (o_custkey % 3) AS decimal(24,6)), 2)"))
        .cast("double").as("safe_div")))
    time("orders_full_no_sort")(orders
      .withColumn("doc",
        when(col("o_orderkey") % 2 === 0,
          concat(lit("""{ "a" : """), col("o_custkey").cast("string"), lit(" }")))
          .otherwise(lit("{broken")))
      .select(col("o_orderkey"),
        tryE(expr("cast(o_orderpriority AS int)")).as("bad_cast"),
        tryE(expr("cast(substr(o_orderpriority, 1, 1) AS int)")).as("prio_num"),
        tryE(graft.functions.PrestoJsonFunctions.jsonParse(col("doc"))).as("canon"),
        tryE(expr("round(cast(o_totalprice / (o_custkey % 3) AS decimal(24,6)), 2)"))
          .cast("double").as("safe_div")))
    spark.stop()
  }
}
