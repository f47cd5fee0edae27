package graft

/** Dev-only targeted bench: time the named queries at a given SF dir with
  * the SAME measurement discipline as Bench — untimed pre-sample GC
  * (HostMeter.timed), ROUND-ROBIN passes so one steal burst cannot poison
  * every sample of one query, per-pass host telemetry (load/steal) printed
  * with each line so a window is classifiable after the fact, min-of-N
  * headline. Round 15 upgraded it from a bare min-of-2 stopwatch: the
  * regression-reconciliation protocol (verdict r14 item 1) re-measures
  * driver-artifact diffs in TELEMETERED windows, and the edit loop's
  * timer should never use a weaker convention than the artifact it
  * argues against.
  * Usage: tools/run.sh graft.BenchSome <sfDir> [passes=N] <query>...
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val (passes, names) = args.drop(1).toSeq match {
      case p +: rest if p.startsWith("passes=") => (p.stripPrefix("passes=").toInt, rest)
      case rest => (2, rest)
    }
    require(names.nonEmpty, "usage: BenchSome <sfDir> [passes=N] <query>...")
    // passes <= 0 would otherwise surface as a NoSuchElementException
    // at the summary line after full session bring-up
    require(passes > 0, s"passes must be > 0, got $passes")
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val all = scala.collection.mutable.Map.empty[String, List[Double]]
    for (p <- 1 to passes; n <- names) {
      val (t, host) = HostMeter.timed {
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      println(f"[some] pass=$p $n%-28s $t%7.2fs  $host")
      best(n) = math.min(best.getOrElse(n, Double.MaxValue), t)
      all(n) = t :: all.getOrElse(n, Nil)
    }
    names.foreach { n =>
      val ss = all(n).reverse.map(t => f"$t%.2f").mkString(", ")
      println(f"[some] min $n%-28s ${best(n)}%7.2fs  (samples: $ss)")
    }
    spark.stop()
  }
}
