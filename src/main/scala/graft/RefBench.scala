package graft
/** Reference-scale pipeline benchmark (the reference's own workload:
  * 10M rows x 20 cols, 100 bins — /root/reference/etl_benchmark.py:10-11):
  * exact (selection-based) boundaries, tokens materialized through the
  * noop sink — the reference computes `tokenized_data` in memory only and
  * never persists it. Prints per-stage timings.
  * Usage: `tools/run.sh graft.RefBench [rows] [cols]`. */
object RefBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = if (args.length > 0) args(0).toLong else 10000000L
    val cols = if (args.length > 1) args(1).toInt else 20
    var res: (Long, Map[String, Double]) = null
    val (_, host) = HostMeter.timed {
      res = Pipeline.run(spark, s"/tmp/refbench_${rows}x$cols", rows = rows,
        cols = cols, sink = false)
    }
    val (n, t) = res
    // ref_comparable = the stages the reference's 8.55 s CPU total spans
    // (parquet load + boundaries + tokenize); jvm_warmup and generate are
    // environment/setup terms its clock excludes by construction — both
    // stay visible in `timings`.
    val cmp = Seq("scan", "boundaries", "tokenize").flatMap(t.get).sum
    println(s"rows=$n timings=$t total=${t.values.sum} " +
      f"ref_comparable=$cmp%.2f $host")
    spark.stop()
  }
}
