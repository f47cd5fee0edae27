package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{Pipeline, SparkEntry}

/** The engine benchmark's measuring JVM. It drives Spark in this one JVM
  * (`local[N]`), times calls into the engine from outside, and writes the
  * raw samples as JSON; `perfbench/run.py` builds the classes, launches
  * this main and turns the samples into metrics.
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1 --setups K
  *             --data DIR --work DIR --out FILE
  *   PerfBench --selfcheck --work DIR --out FILE
  *
  * Each set-up starts a session, generates data (ref_tokenize) and runs one
  * untimed pass to fill the JIT, the codegen cache, derived layouts and the
  * page cache. Measured passes follow, at least three, until their summed
  * wall time reaches the time budget; before each, the pass's input files
  * are read through once and the heap is collected, off the clock. Output
  * checks run off the clock: after the set-up or pass they check, and once
  * all passes are done. With tracing on, even passes are traced and odd
  * ones are not, so the report can subtract the two. */
object PerfBench {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(args: Array[String]): Opts = {
    val kv = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--"), s"unexpected argument ${args(i)}")
      val k = args(i).drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        kv(k) = args(i + 1); i += 2
      } else { kv(k) = "1"; i += 1 }
    }
    Opts(kv.toMap)
  }

  /** Order-insensitive fingerprint of a result: row count and the exact
    * sum of a 64-bit hash of every row. Addition commutes, so any row
    * order gives the same pair; a changed, lost or duplicated row does not.
    * Map columns, which Spark cannot hash, are hashed as their JSON. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name))
      else col(f.name)
    }
    val r = named.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Reads every file under `root` once, so that the page cache holds it. */
  def readThrough(root: Path): Unit = {
    val buf = new Array[Byte](1 << 20)
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).forEach { p =>
      val in = Files.newInputStream(p)
      try while (in.read(buf) >= 0) () finally in.close()
    } finally walk.close()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }

  trait Workload {
    def prepare(spark: SparkSession, setup: Int): Unit
    def pass(spark: SparkSession, spans: Spans): Unit
    /** The input files a pass reads. */
    def inputs: Path
    /** Untimed output check of the set-up just done. */
    def afterSetup(spark: SparkSession, setup: Int): Unit = ()
    /** Untimed work between the last set-up and the first measured pass. */
    def beforePasses(spark: SparkSession): Unit = ()
    /** Untimed output check of the pass just run. */
    def afterPass(spark: SparkSession, pass: Int): Unit = ()
    /** Untimed output checks once all passes are done. */
    def finish(spark: SparkSession): Unit = ()
    /** Output values (rows x columns) one pass produces. */
    def values: Long
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[Map[String, Any]]
    def describe: Map[String, Any]
  }

  /** The reference pipeline, timed as one call of `Pipeline.run` at
    * rows x cols standard-normal doubles and `bins` bins, with exact
    * boundaries and the noop sink. Each set-up writes the seeded table where
    * `Pipeline.run` looks for it, so the run's own generate stage skips, and
    * warms up with `Pipeline.run` and its parquet token sink, whose output
    * is checked after the set-up. */
  final class RefTokenize(rows: Long, cols: Int, bins: Int, seed: Long, work: Path)
      extends Workload {
    private var current = 0
    private var returnedRows = -1L
    var dataBytes = 0L
    private def dir(setup: Int) = work.resolve(s"ref_$setup")

    def inputs: Path = dir(current).resolve("massive_data.parquet")

    def prepare(spark: SparkSession, setup: Int): Unit = {
      if (current > 0) deleteRecursively(dir(current))
      current = setup
      deleteRecursively(dir(setup))
      Pipeline.writeIgnore(Pipeline.syntheticTable(spark, rows, cols, seed), inputs.toString)
      dataBytes = Files.list(inputs).toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      Pipeline.run(spark, dir(setup).toString, rows, cols, bins, sink = true)
    }

    def pass(spark: SparkSession, spans: Spans): Unit = spans("op", "pipeline") {
      val (t0Ns, t0Ms) = (System.nanoTime(), System.currentTimeMillis())
      val (n, stages) = Pipeline.run(spark, dir(current).toString, rows, cols, bins, sink = false)
      returnedRows = n
      spans.laidOut(t0Ns, t0Ms, StageOrder.filter(stages.contains).map { s =>
        SpanName.getOrElse(s, s) -> stages(s)
      } ++ (stages.keySet -- StageOrder).toSeq.sorted.map(s => s -> stages(s)))
    }

    /** The set-ups warmed up through the parquet sink; one pass warms the
      * noop-sink path the measured passes take. */
    override def beforePasses(spark: SparkSession): Unit = pass(spark, new Spans(Set.empty))

    /** The row count the timed call returned. */
    override def afterPass(spark: SparkSession, pass: Int): Unit =
      checks += Map("pass" -> pass, "rows" -> returnedRows)

    /** The tokens the set-up's warm-up wrote, from a table generated from
      * the seed in the set-up's own session: per-column bin occupancy and
      * the token checksum, in one scan. The checksum is a wrapping sum of
      * per-row hashes, so it does not depend on row order. */
    override def afterSetup(spark: SparkSession, k: Int): Unit = {
      val (nCols, nBins) = (cols, bins)
      val out = dir(k).resolve("tokens.parquet")
      val tokens = spark.read.parquet(out.toString)
        .select((0 until cols).map(i => col(s"col_${i}_token")): _*)
      val (hist, sumHash, n) = tokens.queryExecution.toRdd.mapPartitions { it =>
        val h = new Array[Long](nCols * nBins)
        var sum = 0L; var rowsSeen = 0L
        it.foreach { r =>
          var rowHash = 0x9E3779B97F4A7C15L
          var c = 0
          while (c < nCols) {
            val b = if (r.isNullAt(c)) -1 else r.getInt(c)
            if (b >= 0 && b < nBins) h(c * nBins + b) += 1
            rowHash = java.lang.Long.rotateLeft((rowHash ^ (b + 1L)) * 0xBF58476D1CE4E5B9L, 31)
            c += 1
          }
          sum += rowHash; rowsSeen += 1
        }
        Iterator((h, sum, rowsSeen))
      }.reduce { case ((a, s1, n1), (b, s2, n2)) =>
        (a.indices.map(i => a(i) + b(i)).toArray, s1 + s2, n1 + n2)
      }
      val perCol = hist.grouped(nBins).toSeq
      checks += Map("setup" -> k, "rows" -> n, "checksum" -> sumHash.toString,
        "columns" -> perCol.size,
        "bins_min" -> perCol.map(_.count(_ > 0)).min,
        "bins_max" -> perCol.map(_.count(_ > 0)).max,
        "count_min" -> hist.min, "count_max" -> hist.max)
      deleteRecursively(out)
    }

    def values: Long = rows * cols
    def describe: Map[String, Any] = Map("rows" -> rows, "cols" -> cols, "bins" -> bins,
      "data_bytes" -> dataBytes)
  }

  /** `Pipeline.run`'s stages in the order it runs them, and the span name
    * each is recorded under. */
  val StageOrder: Seq[String] = Seq("jvm_warmup", "generate", "scan", "boundaries", "tokenize")
  val SpanName: Map[String, String] = Map("tokenize" -> "discretize")

  /** A fixed list of contract queries, each built through
    * `SparkEntry.queries(name)(spark, dir)` and executed to the noop sink. */
  final class Mix(names: Seq[String], dir: String) extends Workload {
    private val outVals = scala.collection.mutable.Map.empty[String, Long]

    def inputs: Path = Paths.get(dir)

    def prepare(spark: SparkSession, setup: Int): Unit = pass(spark, new Spans(Set.empty))

    def pass(spark: SparkSession, spans: Spans): Unit =
      names.foreach { name =>
        try spans("op", name) {
          val df = spans("build") { SparkEntry.queries(name)(spark, dir) }
          spans("exec") { df.write.format("noop").mode("overwrite").save() }
        } catch { case scala.util.control.NonFatal(e) =>
          errors += Map("pass" -> spans.pass, "op" -> name, "error" -> e.toString.take(300))
        }
      }

    /** Row count and fingerprint of every query, once, off the clock. */
    override def finish(spark: SparkSession): Unit = names.foreach { name =>
      val rec = try {
        val df = SparkEntry.queries(name)(spark, dir)
        val (n, fp) = fingerprint(df)
        outVals(name) = n * df.columns.length
        Map[String, Any]("op" -> name, "rows" -> n, "fingerprint" -> fp)
      } catch { case scala.util.control.NonFatal(e) =>
        Map[String, Any]("op" -> name, "error" -> e.toString.take(300))
      }
      checks += rec
    }

    def values: Long = outVals.values.sum
    def describe: Map[String, Any] = Map("ops" -> names, "data" -> dir)
  }

  /** Contract queries, then a live drain. The queries are planning-,
    * shuffle- and eager-build-bound and read only: TPC-H aggregates and
    * joins, and schema inference, which is mostly eager build. The drain is
    * the write path: a flatMapGroupsWithState dedup whose checkpoints and
    * state-store files are written, checksummed and renamed per batch. */
  val ContractMix: Seq[String] = Seq(
    "q1_pricing_summary", "q_tpch_q3", "q_tpch_q18", "q_schema_infer",
    "q_stream_dedup_live")

  /** Reference pipeline rows: the paper's 10M x 20 cut to 1.2M x 20, so
    * that a run with its set-ups and checks fits the benchmark's time
    * budget. Above 1M rows the exact boundary selection still takes its
    * bucketed multi-job path. */
  val RefRows = 1200000L

  /** `xs` started at position `seed mod |xs|`. */
  def rotate[T](xs: Seq[T], seed: Long): Seq[T] = {
    val k = java.lang.Math.floorMod(seed, xs.size.toLong).toInt
    xs.drop(k) ++ xs.take(k)
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val extra = Seq(
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("local").toString) ++
      (if (trace) Collector.listenerConfs else Nil)
    val spark = graft.Sessions.local(graft.Sessions.cpus, extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Writes the raw result: Scala maps, sequences and options as JSON. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    val out = Paths.get(o("out"))
    if (o.kv.contains("selfcheck")) {
      Files.writeString(out, Json.writeValueAsString(SelfCheck.run(session(work, trace = false))))
      return
    }
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val data = Paths.get(o("data")).toAbsolutePath.toString
    val wl: Workload = o("workload") match {
      case "ref_tokenize" => new RefTokenize(RefRows, 20, 100, seed, work)
      case "contract_mix" => new Mix(rotate(ContractMix, seed), data)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    if (trace) Collector.warmRecorder()
    Counters.HeapAfterGc.install()
    var spark: SparkSession = null
    val setups = (1 to o("setups").toInt).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(work, trace)
      wl.prepare(spark, k)
      val t = (System.nanoTime() - t0) / 1e9
      log(f"setup $k: $t%.3f s")
      wl.afterSetup(spark, k)
      t
    }

    wl.beforePasses(spark)
    val spans = new Spans(Set("run", "op"))
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    // the report drops the slowest and the fastest pass
    val minPasses = 3
    while (passes.size < minPasses || measured < seconds) {
      val i = passes.size
      val traced = trace && i % 2 == 0
      readThrough(wl.inputs)
      // the window's heap samples start with the live heap this collection leaves
      Counters.HeapAfterGc.take()
      graft.HostMeter.untimedGc()
      spans.pass = i
      val (_, s0, a0) = Counters.host()
      if (traced) Collector.traced(spark.sparkContext, work)(spans("run")(wl.pass(spark, spans)))
      else spans("run")(wl.pass(spark, spans))
      val heap = Counters.HeapAfterGc.take()
      val (l1, s1, a1) = Counters.host()
      val run = spans.done.last
      measured += (run.t1Ns - run.t0Ns) / 1e9
      passes += Map("pass" -> i, "traced" -> traced, "span" -> run.id,
        "heap_peak_mb" -> heap, "load" -> l1,
        "steal_pct" -> 100.0 * (s1 - s0) / math.max(a1 - a0, 1L))
      log(f"pass $i${if (traced) " traced" else ""}: ${(run.t1Ns - run.t0Ns) / 1e9}%.3f s")
      wl.afterPass(spark, i)
    }
    wl.finish(spark)
    log("checks done")
    val peak = Counters.peakRssMb()

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val result = Map[String, Any](
      "env" -> Map(
        "workload" -> o("workload"), "seed" -> seed, "trace" -> trace,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> graft.Sessions.cpus.toInt,
        "master" -> spark.sparkContext.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
          .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "workload" -> wl.describe,
      "setup_s" -> setups,
      "values_per_pass" -> wl.values,
      "peak_rss_mb" -> peak,
      "passes" -> passes,
      "spans" -> spans.done.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "label" -> s.label, "wall_s" -> (s.t1Ns - s.t0Ns) / 1e9,
        "t0_ms" -> s.t0Ms, "t1_ms" -> s.t1Ms, "counters" -> s.counters)),
      "checks" -> wl.checks,
      "errors" -> wl.errors,
      "events" -> Map(
        "tasks" -> Collector.tasks, "jobs" -> Collector.jobs, "plans" -> Collector.plans,
        "batches" -> Collector.batches, "spawns" -> Collector.spawns))
    Files.writeString(out, Json.writeValueAsString(result))
    log("result written")
    spark.stop()
    log("session stopped")
  }
}

/** The fingerprint's order-insensitivity, checked on a live session. */
object SelfCheck {
  def run(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val base = (1 to 500).map(i => (i, s"k${i % 7}", i * 0.5)).toDF("a", "b", "c")
    val fp = PerfBench.fingerprint _
    val reordered = base.orderBy(rand(7)).repartition(5)
    val changed = base.withColumn("c", when($"a" === 250, lit(0.0)).otherwise($"c"))
    val duplicated = base.union(base.limit(1))
    Map(
      "same_order" -> (fp(base) == fp(base)),
      "reordered_equal" -> (fp(reordered) == fp(base)),
      "changed_differs" -> (fp(changed) != fp(base)),
      "duplicated_differs" -> (fp(duplicated) != fp(base)))
  }
}
