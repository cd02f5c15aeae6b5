package graft.tools

/** Repeated runs of the bench's phase-aligned streaming-latency probe —
  * the envelope evidence that the headline stream_e2e number is stable on
  * identical code (VERDICT r6 item 5: it previously swung 2.9-52.2 s with
  * uncontrolled trigger phase).
  *
  * Run: sbt 'runMain graft.tools.StreamProbe [n]'
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Engine.createSession("graft-stream-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    val xs = (1 to n).map { i =>
      val t = graft.Bench.streamingLatencyProbe(spark)
      println(f"""{"probe":"stream_e2e","run":$i,"latency_sec":$t%.1f}""")
      t
    }
    val ok = xs.filter(_ >= 0).sorted
    if (ok.nonEmpty)
      println(f"""{"probe":"stream_e2e_summary","runs":${ok.length},""" +
        f""""min":${ok.head}%.1f,"median":${ok(ok.length / 2)}%.1f,"max":${ok.last}%.1f}""")
    spark.stop()
  }
}
