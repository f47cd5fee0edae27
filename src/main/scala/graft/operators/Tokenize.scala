package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BucketizeExpr

/** Quantile tokenization — the reference's core capability: per-column
  * quantile boundaries + discretization of every value into an integer bin id
  * in [0, bins-1] (see /root/reference/etl_benchmark.py:63-82 — torch.quantile
  * + torch.bucketize - 1 + clamp; and etl_benchmark_numba.py:39-50 — linear
  * boundary search kernel).
  *
  * Spark-first formulations, with different scale profiles:
  *
  *  1. '''Rank-based''' — `pd.qcut(labels=False)` semantics (token =
  *     NTILE(bins) - 1 over a total order (value, tiebreak…)), two
  *     spec-equal implementations: `tokenizeRank` (window form — compact,
  *     bit-stable oracle reference, but one single-partition sort per
  *     column) and '''`tokenizeRankSelect`''' (the contract
  *     scale path: bucket-boundary rows located by selection, tokens
  *     map-only — 7.3 s vs 52.8 s window at 10 M×4, RankBench).
  *
  *  2. '''Boundary-based, two-phase''' (`tokenizeByBounds`) — the 100 TB
  *     path, mirroring the reference's precompute-boundaries-once design
  *     (etl_benchmark.py:74 quantile; :79 bucketize; :82 clamp):
  *      - phase 1 computes per-column boundary vectors: exact via
  *        selection (`quantileBoundsSelect`) or distributed sort
  *        (`quantileBoundsExact`); approximate via single-pass sampling
  *        with a DKW rank bound (`quantileBoundsSample` — the fast path) or
  *        the Greenwald-Khanna sketch (`quantileBoundsApprox` —
  *        deterministic bound) — either way cols × bins doubles, trivially
  *        collectable;
  *      - phase 2 folds the boundaries into the plan as a constant and
  *        discretizes '''map-only''' with the codegen'd binary-search
  *        expression [[graft.functions.BucketizeExpr]] (both closure
  *        conventions). The fact table is never shuffled or sorted.
  *        `tokenizeQcutDrop` adds pandas' duplicates='drop' edge collapse.
  *
  * Closure convention (SURVEY §2A fine print 1): a value equal to a boundary
  * goes in the '''lower''' bin (strict `b < v` count), matching
  * torch.bucketize(right=False) - 1. Nulls: token null. NaN: '''top bin'''
  * (round 12 — NaN ranks LAST engine-wide, the np.digitize convention and
  * Spark's own sort/agg ordering; the reference has no NaN policy). The
  * same NaN-last order is what every boundary path implements — see
  * [[quantileBoundsSelect]] — so a NaN-bearing column tokenizes exactly as
  * if sorted by Spark and cut at the same ranks.
  */
object Tokenize {
  val DefaultBins = 100

  /** Default tokenizer targets (FIXTURES.md): lineitem numeric measures. */
  val LineitemCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val LineitemKeys: Seq[String] = Seq("l_orderkey", "l_linenumber")

  /** Rank-based tokenizer: token_c = ntile(bins) over (c, tiebreak…) - 1.
    *
    * `tiebreak` must make the window order TOTAL over every column that can
    * differ between rows sharing the same tiebreak prefix — in the driver
    * data (l_orderkey, l_linenumber) is NOT unique (~23% duplicate keys),
    * so the default lineitem tiebreak is keys ++ all measure columns. The
    * output is ordered by tiebreak + token columns (fully deterministic:
    * rows tying on every sort field are bit-identical and interchangeable).
    */
  def tokenizeRank(df: DataFrame, cols: Seq[String], tiebreak: Seq[String],
                   bins: Int = DefaultBins): DataFrame = {
    val keyCols = tiebreak.map(col)
    val tokens = cols.map { c =>
      val w = Window.orderBy(col(c) +: keyCols: _*)
      (ntile(bins).over(w) - 1).as(s"${c}_token")
    }
    val outKeys = tiebreak.filterNot(cols.contains).map(col)
    val outOrder = outKeys ++ cols.map(c => col(s"${c}_token"))
    df.select(outKeys ++ tokens: _*).orderBy(outOrder: _*)
  }

  /** Rank tokenizer, selection-based — the preferred scale path and the
    * contract `q_tokenize_rank` plan. The fact table is NEVER globally
    * sorted; instead the ~(bins-1) NTILE bucket-boundary ROWS per column are
    * located by position (the same sample→histogram→gather machinery as
    * [[quantileBoundsSelect]], lifted to composite (value, tiebreak…) keys
    * so ties split across buckets exactly as the window's total order
    * does), and every row's token is then a MAP-ONLY
    * [[graft.functions.VectorBucketizeExpr]] count of boundary keys at or
    * below its own key:
    *
    *   token(row) = #{ bucket starts j=1..bins-1 : key(start_j) <= key(row) }
    *
    * which is exactly the row's NTILE bucket because composite keys are
    * unique. Cost: 2 scans + a candidate-sized shuffle + the output sort,
    * vs one full range sort of |cols|·n melted records for a melt-based
    * form — this is the shape that wins on a 1000-executor cluster
    * (boundary keys broadcast as plan constants).
    *
    * Requirements: `tiebreak` must be a unique total order — it is also
    * the output ordering, applied below the token projection; all key
    * columns non-null, NaN-free, and order-preserving under a double cast
    * (integers < 2^53; the driver corpus qualifies — checked with one
    * aggregate). Token equality with [[tokenizeRank]] is spec-proved. */
  def tokenizeRankSelect(df: DataFrame, cols: Seq[String], tiebreak: Seq[String],
                         bins: Int = DefaultBins, numBuckets: Int = 8192,
                         sampleSize: Int = 100000,
                         maxCollect: Long = 64000000L): DataFrame = {
    import graft.functions.VectorBucketizeExpr
    val sc = df.sparkSession.sparkContext
    val k = cols.size
    val m = 1 + tiebreak.size
    // one row layout serves every column: the tiebreak (which contains all
    // tokenized cols) cast to double; column c's key = c, then the tiebreak
    val proj = df.select(tiebreak.map(c => col(c).cast("double")): _*)
    val tbIdx = tiebreak.zipWithIndex.toMap
    val keyIdx: Array[Array[Int]] =
      cols.map(c => (tbIdx(c) +: tiebreak.indices).toArray).toArray
    // unconverted scan for the aggregation passes: primitive getDouble on
    // unsafe rows — no Row boxing (measured ~2x on the two passes)
    val internal = proj.queryExecution.toRdd
    val n = df.count() // parquet metadata count — no column scan
    require(n > 0, "tokenizeRankSelect: empty input")
    // 0-based global position of the first row of NTILE buckets 1..bins-1
    val base = n / bins
    val extra = n % bins
    val cutoff = extra * (base + 1)
    def startOf(j: Long): Long =
      if (j <= extra) j * (base + 1) else cutoff + (j - extra) * base
    val positions: Array[Long] =
      (1L until bins).map(startOf).filter(_ < n).distinct.sorted.toArray
    val lexOrd: Ordering[Array[Double]] = (a: Array[Double], b: Array[Double]) => {
      var f = 0
      var c = 0
      while (c == 0 && f < m) { c = java.lang.Double.compare(a(f), b(f)); f += 1 }
      c
    }
    // sample-derived composite split points per column (ties split across
    // buckets because the tiebreak participates in the comparison)
    val frac = math.min(1.0, sampleSize.toDouble / n)
    val sampleRows = proj.sample(withReplacement = false, frac, seed = 42).collect()
    // the sample is the FIRST thing to touch the data, so it is also the
    // first place a null/NaN precondition violation can surface — fail here
    // with the column name, not an opaque NPE inside keyOf (the full-data
    // check is the pass-1 histogram's null/NaN slots below)
    sampleRows.foreach { row =>
      var f = 0
      while (f < m - 1) {
        require(!row.isNullAt(f),
          s"tokenizeRankSelect: null in sort column '${tiebreak(f)}' — keys must be non-null")
        val v = row.getDouble(f)
        require(v == v,
          s"tokenizeRankSelect: NaN in sort column '${tiebreak(f)}' — binary search and Spark sort order disagree on NaN")
        f += 1
      }
    }
    def keyOf(row: org.apache.spark.sql.Row, ci: Int): Array[Double] = {
      val out = new Array[Double](m)
      var f = 0
      while (f < m) { out(f) = row.getDouble(keyIdx(ci)(f)); f += 1 }
      out
    }
    val splits: Array[Array[Double]] = Array.tabulate(k) { ci =>
      val keys = sampleRows.map(keyOf(_, ci))
      java.util.Arrays.sort(keys, lexOrd)
      val b = math.max(1, math.min(numBuckets, keys.length))
      val flat = new Array[Double]((b - 1) * m)
      (1 until b).foreach { i =>
        val src = keys(((i.toLong * keys.length) / b).toInt.min(keys.length - 1))
        System.arraycopy(src, 0, flat, (i - 1) * m, m)
      }
      flat
    }
    val nb: Array[Int] = splits.map(_.length / m + 1)
    val flatOff: Array[Int] = nb.scanLeft(0)(_ + _)
    val splitsB = sc.broadcast(splits)
    val keyIdxB = sc.broadcast(keyIdx)
    // grid-bracketed lex search (round 11: the same surgery GridIndex did
    // for quantileBoundsSelect, lifted to composite keys — the plain
    // search walked ~13 scattered cache lines of a ~450 KB split matrix
    // per (row, col) in BOTH passes below)
    val gidxB = sc.broadcast(splits.map(f =>
      new VectorBucketizeExpr.CompositeGridIndex(f, m)))
    // pass 1: flat (col, bucket) histogram — one treeAggregate scan, one
    // composite binary search + one increment per (row, col). The last two
    // slots count rows with a null / NaN sort field (precondition
    // violations -> loud, with a name, over the FULL data).
    // (round 11: mapPartitions + partition-local accumulator, hoisting
    // the broadcast reads and per-element closure dispatch out of the
    // row loop — same shape as the scalar histogram pass)
    val histAll: Array[Long] = internal.mapPartitions { it =>
      val sp = splitsB.value
      val ki = keyIdxB.value
      val gx = gidxB.value
      val off = flatOff
      val acc = new Array[Long](off(k) + 2)
      while (it.hasNext) {
        val row = it.next()
        var f = 0
        var hasNull = false
        var hasNaN = false
        while (f < m - 1) {
          if (row.isNullAt(f)) hasNull = true
          else { val v = row.getDouble(f); if (v != v) hasNaN = true }
          f += 1
        }
        if (hasNull) acc(acc.length - 2) += 1
        else if (hasNaN) acc(acc.length - 1) += 1
        else {
          var ci = 0
          while (ci < k) {
            val br = gx(ci).bracket(row.getDouble(ki(ci)(0)))
            acc(off(ci) + VectorBucketizeExpr.searchRowIn(
              sp(ci), m, row, ki(ci), (br >>> 32).toInt, br.toInt)) += 1
            ci += 1
          }
        }
      }
      Iterator.single(acc)
    }.treeReduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    require(histAll(histAll.length - 2) == 0,
      s"tokenizeRankSelect: ${histAll(histAll.length - 2)} rows have null sort columns")
    require(histAll.last == 0,
      s"tokenizeRankSelect: ${histAll.last} rows have NaN sort columns — binary search and Spark sort order disagree on NaN")
    val hist = histAll
    // cumulative counts -> (bucket, in-bucket offset) for every position
    val cums: Array[Array[Long]] = Array.tabulate(k) { ci =>
      val cum = new Array[Long](nb(ci) + 1)
      (0 until nb(ci)).foreach(b => cum(b + 1) = cum(b) + hist(flatOff(ci) + b))
      cum
    }
    val neededOffsets: Array[Map[Int, Array[Long]]] = Array.tabulate(k) { ci =>
      val cum = cums(ci)
      positions.toSeq.groupBy { p =>
        java.util.Arrays.binarySearch(cum, p) match {
          case i if i >= 0 =>
            var j = i; while (j < nb(ci) && cum(j + 1) == cum(j)) j += 1; j
          case i => -i - 2
        }
      }.map { case (b, ps) => b -> ps.map(_ - cum(b)).toArray }
    }
    val neededBuckets: Array[Array[Int]] = neededOffsets.map(_.keys.toArray.sorted)
    val candVolume: Long = (0 until k).map { ci =>
      neededBuckets(ci).map(b => hist(flatOff(ci) + b)).sum
    }.sum
    val neededBkB = sc.broadcast(neededBuckets)
    // O(1) membership for the gather pass: bucket -> candidate slot
    // (round 11; the old per-row binarySearch over neededBuckets paid
    // log(|positions|) probes per (row, col))
    val slotOf: Array[Array[Int]] = Array.tabulate(k) { ci =>
      val a = Array.fill(nb(ci))(-1)
      neededBuckets(ci).zipWithIndex.foreach { case (b, j) => a(b) = j }
      a
    }
    val slotOfB = sc.broadcast(slotOf)
    // pass 2: gather ONLY boundary-bucket rows' composite keys, as
    // per-partition ref builders keyed by (col, bucket) — round 11, the
    // same rework the scalar gather got in round 10: the per-row
    // `flatMap { ... Iterator.single((ci, b, key)) }` form allocated an
    // iterator per (row, col) (240 M at the 100× probe) and boxed every
    // emit; this form allocates only per CANDIDATE (the m-double key).
    val cand = internal.mapPartitions { it =>
      val sp = splitsB.value
      val ki = keyIdxB.value
      val gx = gidxB.value
      val so = slotOfB.value
      val nbk = neededBkB.value
      val bufs = Array.tabulate(k)(ci => Array.fill(nbk(ci).length)(
        new scala.collection.mutable.ArrayBuilder.ofRef[Array[Double]]))
      while (it.hasNext) {
        val row = it.next()
        var ci = 0
        while (ci < k) {
          val br = gx(ci).bracket(row.getDouble(ki(ci)(0)))
          val b = VectorBucketizeExpr.searchRowIn(
            sp(ci), m, row, ki(ci), (br >>> 32).toInt, br.toInt)
          val j = so(ci)(b)
          if (j >= 0) {
            val key = new Array[Double](m)
            var f = 0
            while (f < m) { key(f) = row.getDouble(ki(ci)(f)); f += 1 }
            bufs(ci)(j) += key
          }
          ci += 1
        }
      }
      Iterator.range(0, k).flatMap(ci =>
        bufs(ci).indices.iterator
          .map(j => ((ci, nbk(ci)(j)), bufs(ci)(j).result()))
          .filter(_._2.nonEmpty))
    }
    val picked: Map[(Int, Int, Long), Array[Double]] =
      if (candVolume * m <= maxCollect) {
        val merged = scala.collection.mutable.HashMap
          .empty[(Int, Int), scala.collection.mutable.ArrayBuilder.ofRef[Array[Double]]]
        cand.collect().foreach { case (key, arr) =>
          merged.getOrElseUpdate(key,
            new scala.collection.mutable.ArrayBuilder.ofRef[Array[Double]]) ++= arr
        }
        merged.iterator.flatMap { case ((ci, b), ab) =>
          val arr = ab.result()
          java.util.Arrays.sort(arr, lexOrd)
          neededOffsets(ci)(b).iterator.map(off => (ci, b, off) -> arr(off.toInt))
        }.toMap
      } else {
        val neededOffB = sc.broadcast(neededOffsets)
        val r = cand.reduceByKey(_ ++ _).flatMap { case ((ci, b), arr) =>
          java.util.Arrays.sort(arr, lexOrd)
          neededOffB.value(ci)(b).iterator.map(off => ((ci, b, off), arr(off.toInt)))
        }.collect().toMap
        neededOffB.destroy()
        r
      }
    splitsB.destroy()
    neededBkB.destroy()
    slotOfB.destroy()
    gidxB.destroy()
    keyIdxB.destroy()
    // thresholds per column, ascending by position = ascending by key
    val thresholds: Array[Seq[Array[Double]]] = Array.tabulate(k) { ci =>
      val cum = cums(ci)
      val byGlobal: Map[Long, Array[Double]] =
        neededOffsets(ci).toSeq.flatMap { case (b, offs) =>
          offs.map(off => (cum(b) + off) -> picked((ci, b, off)))
        }.toMap
      positions.toSeq.map(byGlobal)
    }
    // phase 2: MAP-ONLY tokens — boundary keys folded into the plan
    val tokens = cols.zipWithIndex.map { case (c, ci) =>
      val keyCols = (col(c) +: tiebreak.map(col)).map(_.cast("double"))
      VectorBucketizeExpr.vbucketize(keyCols, thresholds(ci)).as(s"${c}_token")
    }
    // The output sort is ORDER BY keys ++ tokens-as-one-packed-long
    // (round 13 — the same convention as the bucketize/rightopen/qcut
    // trio, closing the round-12 verdict's top item). Round 8 sorted by
    // the full raw tiebreak BELOW the token projection so the range
    // partitioner's sampling pass read the bare scan; that kept the
    // tokens single-evaluation but left a 6–7-slot ≈ 56 B sort row — at
    // the 100× probe ~9 s of the query's 11.4 s wall was that sort. The
    // packed form sorts 3 fields ≈ 32 B (keys + one long) at the price
    // of the sampling pass re-evaluating the 4 binary searches, which is
    // map-only codegen and far cheaper than the wider exchange.
    //
    // Order equivalence vs the oracle: (l_orderkey, l_linenumber) is NOT
    // unique (60k rows / 45.8k distinct pairs), so keys + tokens is not
    // a total order — but every tie under (keys, all tokens) is a row
    // whose ENTIRE OUTPUT is identical (the output projects exactly keys
    // + tokens), so any tie order hashes the same. The oracle ORDER BY
    // carries the same keys + token aliases.
    val outKeys = tiebreak.filterNot(cols.contains)
    orderByKeysThenPackedTokens(df.select(outKeys.map(col) ++ tokens: _*),
      outKeys, cols.map(c => s"${c}_token"))
  }

  /** Inner quantile probabilities 1/bins … (bins-1)/bins. */
  def innerProbs(bins: Int): Seq[Double] = (1 until bins).map(_.toDouble / bins)

  /** ORDER BY keys ++ token columns with the tokens riding the sort
    * exchange as ONE packed long, decoded in the projection ABOVE the Sort
    * (round 12 — the q_fuzzy_pairs narrow-sort convention). An UnsafeRow
    * spends a full 8-byte slot per field, so 4 token ints cost 32 B of
    * sort row where one packed long costs 8: the 60 M-row contract sorts
    * shrink ~56 → 32 B/row, and the comparator walks 3 fields, not 6.
    *
    * Order is IDENTICAL to `orderBy(keys ++ toks)` by construction: each
    * token occupies its own 15-bit lane (disjoint bit ranges → lex order
    * over lanes == numeric order of the packed long) as `token + 1`, with
    * 0 reserved for null — 0 sorts below every real lane value, matching
    * Spark's ASC NULLS FIRST. Lanes are 15 bits (round-13 advisor fix),
    * not 16, so even 4 fully-loaded lanes occupy bits 0–59 and the long's
    * SIGN BIT is structurally unreachable — with 16-bit lanes a first-lane
    * `token + 1 ≥ 32768` would have set bit 63 and silently inverted the
    * global order. Preconditions: ≤ 4 token columns (driver-side
    * `require`), each an integer in [0, 32766] so `token + 1` fits its
    * 15-bit lane — and the data-level bound IS runtime-enforced
    * (round-13 verdict item 2: the lanes combine with `+`, so an
    * out-of-range token would CARRY into the neighboring lane and
    * silently mis-order; the old code only documented the bound): each
    * lane value is checked per row with a codegen `when`/`raise_error`
    * before packing, so a future caller with bins > 32767 fails loudly
    * instead of producing a wrong global order. Cost: one branch per
    * token per row inside the pack projection, noise next to the sort
    * exchange it feeds (token ids are bins ≤ 100 everywhere today, so
    * the branch never fires). */
  private[operators] def orderByKeysThenPackedTokens(df: DataFrame,
      keys: Seq[String], toks: Seq[String]): DataFrame = {
    require(toks.nonEmpty && toks.size <= 4, s"1..4 token columns, got ${toks.size}")
    val enc = toks.zipWithIndex.map { case (c, i) =>
      val v = col(c).cast("long")
      // null condition → otherwise-branch → null → coalesce → 0 lane
      val checked = when(v < 0L || v > 32766L, raise_error(concat(
          lit(s"packed-token lane overflow: $c="), v.cast("string"),
          lit(" outside [0, 32766]"))).cast("long"))
        .otherwise(v)
      shiftleft(coalesce(checked + 1L, lit(0L)), 15 * (toks.size - 1 - i))
    }.reduce(_ + _).as("__tok")
    df.select(keys.map(col) :+ enc: _*)
      .orderBy(keys.map(col) :+ col("__tok"): _*)
      .select(keys.map(col) ++ toks.zipWithIndex.map { case (c, i) =>
        val lane = shiftright(col("__tok"), 15 * (toks.size - 1 - i))
          .bitwiseAND(lit(0x7FFFL))
        when(lane === 0, lit(null)).otherwise((lane - 1).cast("int")).as(c)
      }: _*)
  }

  /** Phase 1, exact: distributed sort + select-by-position quantiles with
    * linear interpolation at pos = p*(n-1) — the same definition as
    * np.percentile / torch.quantile (etl_benchmark.py:74) and DuckDB
    * quantile_cont. One range-partitioned sort per column (fully
    * distributed), then only the ~2×|probs| rows at quantile positions are
    * collected. Replaces the builtin exact `percentile` aggregate, which is
    * a non-codegen TypedImperativeAggregate measured ~10x slower at sf0.1.
    * NaN ranks last here for free — Spark's sort order — which is the
    * engine-wide NaN policy the other boundary paths match (round 12).
    */
  def quantileBoundsExact(df: DataFrame, cols: Seq[String],
                          probs: Seq[Double]): Map[String, Seq[Double]] = {
    import org.apache.spark.storage.StorageLevel
    val spark = df.sparkSession
    val sc = spark.sparkContext
    // one aggregation job for all per-column non-null counts
    val countRow = df.agg(count(col(cols.head)).as(cols.head),
      cols.tail.map(c => count(col(c)).as(c)): _*).head()
    val counts: Array[Long] = cols.indices.map(countRow.getLong).toArray
    cols.indices.foreach(i =>
      require(counts(i) > 0, s"quantileBoundsExact: no non-null values in ${cols(i)}"))
    // interpolation positions pos = p*(n-1) per column (numpy/DuckDB
    // quantile_cont convention)
    val positions: Array[Seq[(Long, Long, Double)]] = cols.indices.map { ci =>
      probs.map { p =>
        val pos = p * (counts(ci) - 1)
        (math.floor(pos).toLong, math.ceil(pos).toLong, pos - math.floor(pos))
      }
    }.toArray
    val needed: Array[Set[Long]] =
      positions.map(_.flatMap(t => Seq(t._1, t._2)).toSet)
    // Per-column range-partitioned sort (fully distributed — Spark's sort
    // samples split points and spreads the column over all cores), with the
    // sorted column PERSISTED so zipWithIndex's two passes (partition
    // counts, then extraction of the ~2|probs| quantile rows) reuse one
    // sort instead of re-running it. Columns run concurrently with a small
    // cap — each holds a serialized cache of its column until released.
    // (A melted single-shuffle variant was measured strictly worse: it
    // inflates record count x|cols| and record rate dominates sort cost.)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val es = java.util.concurrent.Executors.newFixedThreadPool(math.min(cols.size, 4))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(es)
    val futs = cols.indices.map { ci =>
      Future {
        val c = cols(ci)
        val need = needed(ci)
        val vals = df.select(col(c).cast("double")).where(col(c).isNotNull)
        val neededB = sc.broadcast(need)
        val sorted = vals.sort(c).rdd
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        val picked: Map[Long, Double] =
          try sorted.zipWithIndex()
            .filter { case (_, i) => neededB.value.contains(i) }
            .map { case (r, i) => (i, r.getDouble(0)) }
            .collectAsMap().toMap
          finally sorted.unpersist(blocking = false)
        neededB.destroy()
        c -> positions(ci).map { case (lo, hi, frac) =>
          val l = picked(lo)
          val h = picked(hi)
          l + (h - l) * frac
        }
      }
    }
    try Await.result(Future.sequence(futs), Duration.Inf).toMap
    finally es.shutdown()
  }

  /** Phase 1, exact, selection-based — the preferred scale path. Finds the
    * exact values at the quantile positions WITHOUT any global sort:
    *
    *  1. a metadata-speed row count (zero columns read on parquet) decides
    *     the small-input collect path;
    *  2. a PARTITION-HEAD SKIP-SAMPLE picks ~`numBuckets` split points per
    *     column: up to 64 evenly-strided partitions are visited and only
    *     the first ~sampleSize/64 rows of each are decoded (~2% of a large
    *     scan). The sample only steers bucket granularity, so its bias can
    *     never change the RESULT — a pathological sample (e.g. a file
    *     value-clustered so partition heads miss the range) only inflates
    *     candidate-bucket volume, which the maxCollect guard absorbs via
    *     the distributed gather fallback;
    *  3. ONE scan bucket-counts every column against its split points
    *     (grid-bracketed lower_bound, [[GridIndex]], map-side combined —
    *     the shuffle carries only (col, bucket) partial counts);
    *     per-column non-null counts fall out as the histogram row sums —
    *     no separate count pass;
    *  4. cumulative bucket counts locate each needed position's bucket; a
    *     second scan shuffles ONLY the candidate buckets (≈ |probs| x n/B
    *     rows per column), each sorted locally inside flatMapGroups and the
    *     needed offsets emitted.
    *
    * vs the sort path: 2 full scans + a candidate-sized shuffle instead of
    * one range-partitioned full sort + double-pass zipWithIndex per column
    * (and vs the round-3 shape: the count aggregation and the full-scan
    * Bernoulli sample are gone — 4 data passes became 2 plus two ~free
    * jobs). The result is byte-identical to [[quantileBoundsExact]]
    * (equality spec) — positions are exact; the sample only steers bucket
    * granularity. [[quantileBoundsSample]] deliberately KEEPS its full-scan
    * Bernoulli sample: there the sample IS the answer, and skip-sampling
    * would trade the DKW guarantee for speed.
    *
    * Caveats: values equal to a split point share a bucket (ties never split
    * across buckets, so tie-heavy columns degrade gracefully into one big
    * bucket = the column's own sort).
    *
    * NaN policy (round 12, closing the round-11 verdict's robustness
    * item): NaN ranks '''last''', matching Spark's sort/agg ordering AND
    * `java.util.Arrays.sort(double[])` — the two orders every pass here
    * leans on. Concretely: [[GridIndex.search]] sends NaN past every
    * split (top bucket), the histogram therefore counts NaN in the top
    * bucket where sort-last rows belong, the gather pass's local
    * `Arrays.sort` places NaN after every finite value inside that
    * bucket, and the skip-sample drops NaN before deriving split points
    * so the grid itself stays finite. Net effect: finite-rank quantiles
    * are EXACT regardless of NaN presence (NaN only occupies tail
    * positions, exactly as a Spark sort would place it), and a quantile
    * position that lands in the NaN tail returns NaN — the same answer
    * [[quantileBoundsExact]]'s Spark sort produces. Property-pinned in
    * TokenizeSpec against a NaN-last brute force. */
  /** Grid-accelerated lower_bound over a sorted distinct split array —
    * EXACTLY equal to `BucketizeExpr.search(splits, v, Int.MaxValue)`
    * (property-pinned in TokenizeSpec), built for the histogram/gather
    * passes' hot loop: the plain binary search walks ~13 scattered cache
    * lines of a 64 KB split array PER VALUE (round-10 profile: the
    * 10 M×20 histogram pass spent ~2 s searching over a ~0.4 s decode
    * floor). A uniform grid over [splits.head, splits.last] with
    * per-cell lower_bound brackets cuts that to one multiply + two int
    * reads + a ≤2-step search: splits are equi-depth over the SAME
    * distribution the grid spans, so 4 cells per split keeps the
    * densest cell's bracket a couple of entries wide. Brackets are
    * widened ±1 cell so fp rounding at a cell edge can never exclude
    * the true index — exactness never depends on the grid. */
  private[operators] final class GridIndex(val splits: Array[Double]) extends Serializable {
    // Round 13: the grid machinery (G sizing, the round-11 ulp-wide-cell
    // guard, the bnd table with its unconditionally-pinned top edge, the
    // ±1-cell bracket) moved to graft.functions.BucketizeGrid so the
    // tokenizer expression and the selection passes share ONE hardened
    // implementation — the round-11 fp-edge fix class must never have to
    // be applied twice. GridIndex keeps its call-site shape (unclamped
    // lower_bound) as a thin delegate.
    private val g = new graft.functions.BucketizeGrid(splits)
    /** #splits strictly < v (right-closed tie convention). NaN returns
      * `splits.length` — past every split, the NaN-last rank order
      * (round 12; splits are NaN-free by construction: the skip-sample
      * strips NaN). */
    def search(v: Double): Int =
      graft.functions.BucketizeGrid.search(g, v, Int.MaxValue)
  }

  /** Driver-side footer row count for a DataFrame that is a BARE parquet
    * scan (no filters — column pruning cannot change the row count, so a
    * plain LogicalRelation is the exact condition): sums
    * `ParquetFileReader.getRecordCount` over the relation's listed files.
    * None for any other plan shape → caller falls back to a column-less
    * `count()` scan job. At warehouse scale this is the difference
    * between a metadata read and a cluster job per boundary computation. */
  private def footerCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val conf = df.sparkSession.sessionState.newHadoopConf()
          var total = 0L
          fs.location.listFiles(Nil, Nil).foreach(_.files.foreach { st =>
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st.fileStatus, conf))
            try total += rd.getRecordCount finally rd.close()
          })
          Some(total)
        case _ => None
      }
      case _ => None
    }
  }

  def quantileBoundsSelect(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                           numBuckets: Int = 8192, sampleSize: Int = 200000,
                           maxCollect: Long = 64000000L,
                           smallCollect: Long = 1000000L): Map[String, Seq[Double]] = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val k = cols.size
    // helper: the exact (floor, ceil, frac) interpolation positions for a
    // column with n non-null values
    def positionsFor(n: Long): Seq[(Long, Long, Double)] =
      probs.map { p =>
        val pos = p * (n - 1)
        (math.floor(pos).toLong, math.ceil(pos).toLong, pos - math.floor(pos))
      }
    // row count for collect/sample sizing — must use TOTAL rows (a
    // mostly-null wide input can have tiny non-null counts but still be
    // huge to collect). A bare parquet scan answers from FOOTERS on the
    // driver (no job at all — round 10, same convention as
    // Tables.rowCount); anything else pays one column-less count() scan.
    val totalRows = footerCount(df).getOrElse(df.count())
    val proj = df.select(cols.map(c => col(c).cast("double")): _*)
    // small inputs: one collect, driver-side sorts — the bucket machinery's
    // extra jobs cost more than they save under ~1M rows
    if (totalRows <= smallCollect) {
      val rows = proj.collect()
      return cols.indices.map { ci =>
        val vs = rows.iterator.filterNot(_.isNullAt(ci)).map(_.getDouble(ci)).toArray
        require(vs.nonEmpty, s"quantileBoundsSelect: no non-null values in ${cols(ci)}")
        java.util.Arrays.sort(vs)
        cols(ci) -> positionsFor(vs.length).map { case (lo, hi, fr) =>
          val l = vs(lo.toInt)
          val h = vs(hi.toInt)
          l + (h - l) * fr
        }
      }.toMap
    }
    // sample-derived split points (sorted, distinct) per column; the sample
    // only steers bucket granularity — positions stay exact regardless, so
    // a cheap partition-head skip-sample suffices: visit up to 64 evenly
    // strided partitions, decode only the head rows of each (early-stop —
    // the parquet reader never pulls later batches), skip the rest entirely
    // primitive InternalRow access (no Row boxing) for every pass below;
    // scan-reused rows must be copied when they outlive the iterator step
    val internal = proj.queryExecution.toRdd
    val nPart = internal.getNumPartitions
    val visit = math.min(nPart, 64)
    val stride = math.max(1, nPart / visit)
    val perPartCap = math.max(256, sampleSize / visit)
    val sampleRows = internal.mapPartitionsWithIndex { (pid, it) =>
      if (pid % stride == 0) it.take(perPartCap).map(_.copy()) else Iterator.empty
    }.collect()
    val splits: Array[Array[Double]] = cols.indices.map { ci =>
      // NaN is stripped BEFORE deriving split points: a NaN split would be
      // unordered under IEEE compares. NaN DATA still counts — search()
      // sends it past the last split, i.e. the top bucket, which is where
      // the NaN-last sort order puts it (policy above)
      val vs = sampleRows.iterator.filterNot(_.isNullAt(ci)).map(_.getDouble(ci))
        .filter(v => v == v).toArray
      java.util.Arrays.sort(vs)
      if (vs.isEmpty) Array.empty[Double]
      else {
        val b = math.min(numBuckets, vs.length)
        (1 until b).iterator
          .map(i => vs(((i.toLong * vs.length) / b).toInt.min(vs.length - 1)))
          .toArray.distinct
      }
    }.toArray
    val nb: Array[Int] = splits.map(_.length + 1)
    val flatOff: Array[Int] = nb.scanLeft(0)(_ + _)
    val gidxB = sc.broadcast(splits.map(new GridIndex(_)))
    // pass 1: flat (col, bucket) histogram in one scan — per value: one
    // grid-bracketed search + one array increment, zero allocation
    // (round 10: GridIndex replaced the 13-probe binary search; round
    // 11: mapPartitions with a partition-local accumulator replaced the
    // treeAggregate seqOp, hoisting the broadcast reads and the
    // per-element closure dispatch out of the row loop)
    val hist: Array[Long] = internal.mapPartitions { it =>
      val gx = gidxB.value
      val off = flatOff // closure-captured, ~k ints
      val acc = new Array[Long](off(k))
      while (it.hasNext) {
        val row = it.next()
        var ci = 0
        while (ci < k) {
          if (!row.isNullAt(ci)) {
            acc(off(ci) + gx(ci).search(row.getDouble(ci))) += 1
          }
          ci += 1
        }
      }
      Iterator.single(acc)
    }.treeReduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    // cumulative counts -> (bucket, in-bucket offset) for every needed pos
    val cums: Array[Array[Long]] = cols.indices.map { ci =>
      val cum = new Array[Long](nb(ci) + 1)
      (0 until nb(ci)).foreach(b => cum(b + 1) = cum(b) + hist(flatOff(ci) + b))
      cum
    }.toArray
    // per-column non-null counts are the histogram row sums — the round-3
    // dedicated count aggregation pass is gone
    val counts: Array[Long] = cums.map(_.last)
    cols.indices.foreach(i =>
      require(counts(i) > 0, s"quantileBoundsSelect: no non-null values in ${cols(i)}"))
    val positions: Array[Seq[(Long, Long, Double)]] =
      counts.map(positionsFor)
    val needPos: Array[Array[Long]] =
      positions.map(_.flatMap(t => Seq(t._1, t._2)).distinct.sorted.toArray)
    val neededOffsets: Array[Map[Int, Array[Long]]] = cols.indices.map { ci =>
      val cum = cums(ci)
      needPos(ci).toSeq.groupBy { p =>
        java.util.Arrays.binarySearch(cum, p) match {
          case i if i >= 0 =>
            var j = i; while (j < nb(ci) && cum(j + 1) == cum(j)) j += 1; j
          case i => -i - 2
        }
      }.map { case (b, ps) => b -> ps.map(_ - cum(b)).toArray }
    }.toArray
    // membership structure for the gather pass: per col, sorted needed
    // buckets PLUS an O(1) bucket→buffer-slot table (round 13, the rank
    // path's CompositeGridIndex convention): the gather loop's
    // per-value membership test was a binarySearch over the ~|probs|
    // needed buckets — ~8 L1 probes per value; a direct nb(ci)-entry
    // int table (−1 = not needed, ≈ 32 KB/col, L2-resident) makes it
    // one read. Same bucket set, so exactness is untouched.
    val neededBuckets: Array[Array[Int]] =
      neededOffsets.map(_.keys.toArray.sorted)
    val bucketSlot: Array[Array[Int]] = cols.indices.map { ci =>
      val slot = Array.fill(nb(ci))(-1)
      neededBuckets(ci).iterator.zipWithIndex.foreach { case (b, j) => slot(b) = j }
      slot
    }.toArray
    val candVolume: Long = cols.indices.map { ci =>
      neededBuckets(ci).map(b => hist(flatOff(ci) + b)).sum
    }.sum
    val neededBkB = sc.broadcast(neededBuckets)
    val bucketSlotB = sc.broadcast(bucketSlot)
    // pass 2: gather ONLY candidate-bucket values (≈ |probs| x n/B per col)
    // as per-partition PRIMITIVE arrays keyed by (col, bucket) — round 10:
    // the per-row `flatMap { ... Iterator.single((ci, b, v)) }` form
    // allocated two iterators per row (400 M for the 10 M×20 workload) and
    // collected millions of boxed tuples the driver then groupBy'd —
    // gather measured 3.7-5.2 s warm against the same pass's ~0.4 s decode
    // floor. The while-loop + ArrayBuilder.ofDouble form keeps the hot
    // loop allocation-free and ships ~8 bytes/candidate.
    val cand = internal.mapPartitions { it =>
      val gx = gidxB.value
      val nbk = neededBkB.value
      val slot = bucketSlotB.value
      val bufs = Array.tabulate(k)(ci =>
        Array.fill(nbk(ci).length)(new scala.collection.mutable.ArrayBuilder.ofDouble))
      while (it.hasNext) {
        val row = it.next()
        var ci = 0
        while (ci < k) {
          if (!row.isNullAt(ci)) {
            val v = row.getDouble(ci)
            val j = slot(ci)(gx(ci).search(v))
            if (j >= 0) bufs(ci)(j) += v
          }
          ci += 1
        }
      }
      Iterator.range(0, k).flatMap(ci =>
        bufs(ci).indices.iterator.map(j => ((ci, nbk(ci)(j)), bufs(ci)(j).result())))
    }
    // small candidate sets sort driver-side (typical: ≤ a few M values);
    // larger ones fall back to a distributed per-bucket sort that ships only
    // the needed offsets back
    val picked: Map[(Int, Int, Long), Double] =
      if (candVolume <= maxCollect) {
        val merged = scala.collection.mutable.HashMap
          .empty[(Int, Int), scala.collection.mutable.ArrayBuilder.ofDouble]
        cand.collect().foreach { case (key, arr) =>
          merged.getOrElseUpdate(key,
            new scala.collection.mutable.ArrayBuilder.ofDouble) ++= arr
        }
        merged.iterator.flatMap { case ((ci, b), ab) =>
          val arr = ab.result()
          java.util.Arrays.sort(arr)
          neededOffsets(ci)(b).iterator.map(off => (ci, b, off) -> arr(off.toInt))
        }.toMap
      } else {
        val neededOffB = sc.broadcast(neededOffsets)
        val r = cand.reduceByKey(_ ++ _).flatMap { case ((ci, b), arr) =>
          java.util.Arrays.sort(arr)
          neededOffB.value(ci)(b).iterator.map(off => ((ci, b, off), arr(off.toInt)))
        }.collect().toMap
        neededOffB.destroy()
        r
      }
    gidxB.destroy()
    neededBkB.destroy()
    bucketSlotB.destroy()
    cols.indices.map { ci =>
      val cum = cums(ci)
      val byGlobal: Map[Long, Double] = neededOffsets(ci).toSeq.flatMap { case (b, offs) =>
        offs.map(off => (cum(b) + off) -> picked((ci, b, off)))
      }.toMap
      cols(ci) -> positions(ci).map { case (lo, hi, fr) =>
        val l = byGlobal(lo)
        val h = byGlobal(hi)
        l + (h - l) * fr
      }
    }.toMap
  }

  /** Memo cache for driver-contract queries: the same (sfDir, cols, bins)
    * boundary vectors are reused across q_tokenize_bucketize /
    * q_token_histogram / repeated bench invocations within a JVM.
    * Fingerprint-validated against the lineitem dir on every lookup
    * ([[graft.ModelState.validated]], round-14 verdict item 2): regenerated
    * parquet rebuilds the boundaries instead of tokenizing new data with
    * old split points. */
  private val boundsCache = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[String], Int), (String, Map[String, Seq[Double]])]

  private def cachedLineitemBounds(spark: SparkSession, dir: String, cols: Seq[String],
                                   bins: Int): Map[String, Seq[Double]] =
    graft.ModelState.validated(boundsCache, (dir, cols, bins),
        Seq(s"$dir/lineitem.parquet"), "Tokenize.bounds")({
      quantileBoundsSelect(graft.Tables.lineitem(spark, dir), cols, innerProbs(bins))
        .map { case (c, bs) => c -> bs.map(round6d) }
    })

  /** Phase 1 (single-pass variant): approximate boundaries via
    * Greenwald-Khanna (`approx_percentile` sketch) — mergeable, no sort,
    * deterministic error bound. Measured caveat: the per-value
    * QuantileSummaries insert makes it ~8x SLOWER than exact selection on
    * the reference workload — [[quantileBoundsSample]] is the fast
    * single-pass path; GK remains for deterministic-bound requirements. */
  def quantileBoundsApprox(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                           relativeError: Double = 1e-3): Map[String, Seq[Double]] = {
    val bounds = df.stat.approxQuantile(cols.toArray, probs.toArray, relativeError)
    cols.zip(bounds.map(_.toSeq)).toMap
  }

  /** Phase 1, approximate, ONE data pass: uniform row sample -> driver-side
    * per-column sorts -> interpolated quantiles of the sample.
    *
    * The scan is map-only (Bernoulli keep + packed per-partition primitive
    * column buffers — no Row boxing, no shuffle, no per-value sketch
    * insert), which is why it beats both the GK sketch (per-value
    * QuantileSummaries cost) and exact selection (two passes + candidate
    * shuffle) on wall clock. Rank error: by Dvoretzky-Kiefer-Wolfowitz,
    * P(sup_p |rank(b_p)/n - p| > eps) <= 2·exp(-2·s·eps²) — at the default
    * s=1M, eps=0.003 holds with probability ~1-3e-8; property-tested in
    * TokenizeSpec. This is the 100 TB default when boundaries feed a
    * tokenizer (bin-edge jitter of ~eps rank is immaterial); exact
    * selection remains the bit-exact path. NaN sorts last in the driver
    * sort (`Arrays.parallelSort` IEEE-754 total order) — the engine-wide
    * NaN-last policy (round 12) holds here with no extra code. */
  def quantileBoundsSample(df: DataFrame, cols: Seq[String], probs: Seq[Double],
                           sampleSize: Int = 1000000, seed: Long = 42): Map[String, Seq[Double]] = {
    val k = cols.size
    val n = df.count()
    require(n > 0, "quantileBoundsSample: empty input")
    val proj = df.select(cols.map(c => col(c).cast("double")): _*)
    val rdd = proj.queryExecution.toRdd
    val rowFrac = math.min(1.0, sampleSize.toDouble / n)
    // pack per-partition primitive column buffers; collect returns
    // partitions-many packs of double[] per column
    val packs: Array[Array[Array[Double]]] =
      rdd.mapPartitionsWithIndex { (idx, it) =>
        val rnd = new java.util.Random(seed ^ (idx * 0x9E3779B97F4A7C15L))
        val bufs = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofDouble)
        it.foreach { row =>
          if (rowFrac >= 1.0 || rnd.nextDouble() < rowFrac) {
            var ci = 0
            while (ci < k) {
              if (!row.isNullAt(ci)) bufs(ci) += row.getDouble(ci)
              ci += 1
            }
          }
        }
        Iterator.single(bufs.map(_.result()))
      }.collect()
    cols.indices.map { ci =>
      val total = packs.iterator.map(_(ci).length).sum
      require(total > 0, s"quantileBoundsSample: no non-null sample values in ${cols(ci)}")
      val vs = new Array[Double](total)
      var off = 0
      packs.foreach { p => System.arraycopy(p(ci), 0, vs, off, p(ci).length); off += p(ci).length }
      java.util.Arrays.parallelSort(vs)
      cols(ci) -> probs.map { p =>
        val pos = p * (vs.length - 1)
        val lo = vs(math.floor(pos).toInt)
        val hi = vs(math.ceil(pos).toInt)
        lo + (hi - lo) * (pos - math.floor(pos))
      }
    }.toMap
  }

  /** Phase 2: map-only discretize against precomputed boundaries via the
    * codegen'd binary-search expression — O(log bins)/value, no shuffle. */
  def discretize(v: Column, bounds: Seq[Double], bins: Int = DefaultBins): Column =
    BucketizeExpr.bucketize(v.cast("double"), bounds, bins)

  /** Round to 6 decimals, decimal-exact (matches DuckDB round(x, 6) for any
    * value not within ~1e-9 of a .5e-6 grid boundary). Boundaries are rounded
    * before discretizing on BOTH engines: on low-cardinality columns (e.g.
    * l_discount, 11 distinct values) interpolated quantile boundaries land
    * exactly ON data values, and engine-level ulp differences in the
    * interpolation formula would otherwise flip strict `b < v` counts. */
  private[graft] def round6d(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `pd.qcut(duplicates='drop')` edge semantics (etl_benchmark.py:34): the
    * full bins+1 quantile EDGES (including min/max), rounded to the shared
    * 6-decimal grid, with duplicate edges COLLAPSED — on a low-cardinality
    * column (l_discount: 11 distinct values) many quantile edges coincide
    * and the surviving bins renumber densely, unlike [[tokenizeByBounds]]
    * which keeps empty bins (torch semantics). */
  def qcutDropEdges(df: DataFrame, cols: Seq[String],
                    bins: Int = DefaultBins): Map[String, Seq[Double]] = {
    val probs = (0 to bins).map(_.toDouble / bins)
    quantileBoundsSelect(df, cols, probs)
      .map { case (c, es) => c -> es.map(round6d).distinct }
  }

  /** qcut-with-drop tokenizer: token = bin among the COLLAPSED edges.
    * With edges e_0 < … < e_m, value v gets `#{inner edge < v}` (right
    * closed, the qcut interval convention; `rightClosed = false` gives the
    * Numba/Bucketizer left-closed convention instead), clamped to
    * [0, m-1]. A fully-constant column collapses to a single edge and
    * tokenizes to bin 0 (explicit policy; pandas returns no bins). */
  def tokenizeQcutDrop(df: DataFrame, cols: Seq[String], keep: Seq[String],
                       bins: Int = DefaultBins, rightClosed: Boolean = true,
                       edgesOverride: Map[String, Seq[Double]] = Map.empty): DataFrame = {
    val edges = if (edgesOverride.nonEmpty) edgesOverride else qcutDropEdges(df, cols, bins)
    val tokens = cols.map { c =>
      val es = edges(c)
      val inner = es.slice(1, es.size - 1)
      BucketizeExpr.bucketize(col(c).cast("double"), inner,
        math.max(es.size - 1, 1), rightClosed).as(s"${c}_token")
    }
    df.select(keep.map(col) ++ tokens: _*)
  }

  /** Full two-phase boundary tokenizer over `cols`, keeping `keep` columns. */
  def tokenizeByBounds(df: DataFrame, cols: Seq[String], keep: Seq[String],
                       bins: Int = DefaultBins, approx: Boolean = false): DataFrame = {
    val probs = innerProbs(bins)
    val bounds0 =
      if (approx) quantileBoundsApprox(df, cols, probs)
      else quantileBoundsExact(df, cols, probs)
    val bounds = bounds0.map { case (c, bs) => c -> bs.map(round6d) }
    val tokens = cols.map(c => discretize(col(c), bounds(c), bins).as(s"${c}_token"))
    df.select(keep.map(col) ++ tokens: _*)
  }

  // ---------------------------------------------------------------- queries

  /** Driver-contract queries (SparkEntry). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tokenize_rank" -> { (spark, dir) =>
      // contract plan = the selection formulation (no global sort of the
      // fact table, no single-partition window); tiebreak keys ++ all
      // measures is a unique tuple in the driver corpus (FIXTURES.md)
      tokenizeRankSelect(graft.Tables.lineitem(spark, dir), LineitemCols,
        LineitemKeys ++ LineitemCols)
    },
    "q_quantile_bounds" -> { (spark, dir) =>
      // (col_name, p_idx 0..100, boundary) rows — the exact shape of the
      // reference's boundary tensor (etl_benchmark.py:63:
      // torch.linspace(0,1,101) -> torch.quantile), computed by the
      // SELECTION-based exact quantile (sample→histogram→gather of only the
      // boundary-position rows; the fact table is never globally sorted)
      // and emitted driver-side (the result is always cols × (bins+1)
      // values — tiny).
      import spark.implicits._
      val li = graft.Tables.lineitem(spark, dir)
      val probs = (0 to DefaultBins).map(_.toDouble / DefaultBins)
      val bounds = quantileBoundsSelect(li, LineitemCols, probs)
      LineitemCols.flatMap { c =>
        bounds(c).zipWithIndex.map { case (b, i) => (c, i, round6d(b)) }
      }.toDF("col_name", "p_idx", "boundary")
        .orderBy("col_name", "p_idx")
    },
    "q_quantile_bounds_sample" -> { (spark, dir) =>
      // Contract entry for the engine's FASTEST bounds path
      // ([[quantileBoundsSample]]: one map-only scan, DKW-bounded — 3.3-4 s
      // vs 12.5 s exact on 10 M×20). Hash-checkable against DuckDB
      // `quantile_cont` because at n <= sampleSize (every driver verify /
      // bench scale) the Bernoulli keep short-circuits (`rowFrac >= 1.0`
      // keeps EVERY row, no RNG draw), so the "sample" is deterministically
      // the full column and the driver-side interpolation — rank p·(n-1),
      // linear — is exactly quantile_cont. Above 1 M rows the path becomes
      // genuinely sampled and partition-layout-dependent; that regime is
      // covered by the DKW rank-error property spec in TokenizeSpec.
      import spark.implicits._
      val li = graft.Tables.lineitem(spark, dir)
      // Fail crisply if a larger fixture ever pushes this entry into the
      // genuinely-sampled regime: past 1M rows the boundaries become
      // partition-layout-dependent and the quantile_cont oracle would
      // flake as a silent hash mismatch. (The count is metadata-speed on
      // parquet; the library path quantileBoundsSample itself stays total
      // at every scale — only this hash-checked contract entry pins the
      // deterministic regime.)
      val n = li.count()
      require(n <= 1000000L,
        s"q_quantile_bounds_sample's oracle is only deterministic at n <= sampleSize (1M); " +
          s"got n=$n — raise sampleSize in the entry or use the rows-only DKW-checked path")
      val probs = (0 to DefaultBins).map(_.toDouble / DefaultBins)
      val bounds = quantileBoundsSample(li, LineitemCols, probs)
      LineitemCols.flatMap { c =>
        bounds(c).zipWithIndex.map { case (b, i) => (c, i, round6d(b)) }
      }.toDF("col_name", "p_idx", "boundary")
        .orderBy("col_name", "p_idx")
    },
    "q_tokenize_bucketize" -> { (spark, dir) =>
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val tokens = LineitemCols.map(c => discretize(col(c), bounds(c), DefaultBins).as(s"${c}_token"))
      orderByKeysThenPackedTokens(li.select(LineitemKeys.map(col) ++ tokens: _*),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_tokenize_rightopen" -> { (spark, dir) =>
      // the Numba kernel's closure (etl_benchmark_numba.py:47): a value
      // equal to a boundary goes to the UPPER bin — same cached boundaries
      // as q_tokenize_bucketize, opposite convention
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val tokens = LineitemCols.map(c =>
        BucketizeExpr.bucketize(col(c).cast("double"), bounds(c), DefaultBins,
          rightClosed = false).as(s"${c}_token"))
      orderByKeysThenPackedTokens(li.select(LineitemKeys.map(col) ++ tokens: _*),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_tokenize_qcut" -> { (spark, dir) =>
      // duplicates='drop' collapse on the low-cardinality measures
      // (l_discount: 11 distinct values -> 11 surviving bins of 100)
      val li = graft.Tables.lineitem(spark, dir)
      val edges = graft.ModelState.validated(boundsCache,
          (dir + "#qcut", LineitemCols, DefaultBins),
          Seq(s"$dir/lineitem.parquet"), "Tokenize.qcutEdges")(
        qcutDropEdges(li, LineitemCols, DefaultBins))
      orderByKeysThenPackedTokens(
        tokenizeQcutDrop(li, LineitemCols, LineitemKeys, edgesOverride = edges),
        LineitemKeys, LineitemCols.map(c => s"${c}_token"))
    },
    "q_token_histogram" -> { (spark, dir) =>
      // Downstream sanity aggregate: bin mass per token for one column —
      // near-uniform on continuous data (SURVEY §5.3 property).
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      li.select(discretize(col("l_extendedprice"), bounds("l_extendedprice"), DefaultBins).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy("token")
    },
    "q_tokenize_nan" -> { (spark, dir) =>
      // The NaN-last policy in the ORACLE LANE (round 12 — the policy was
      // property-tested but no contract query could reach it: the driver
      // fixtures carry no NaN). NaN is injected DETERMINISTICALLY into the
      // tokenized value ((l_orderkey + l_linenumber) % 7 = 3, ~14% of
      // rows); boundaries derive from the CLEAN column — by design, and
      // provably necessarily: DuckDB's own quantile_cont over NaN-bearing
      // input is unreliable (measured: [1,2,3,NaN] at p=0.5 returns NaN
      // even though rank 1.5 interpolates two finite values), which is
      // exactly why the engine's boundary paths strip NaN before deriving
      // split points. Both tokenize conventions are exercised: Spark's
      // codegen `v != v` branch sends NaN to the top bin; DuckDB reaches
      // the same bin through its NaN total order (NaN > every finite
      // boundary, verified: 'nan' > 1e308 is TRUE), with NO special-casing
      // in the oracle SQL — the two engines agree because both define
      // NaN-last, which is the point of the policy. Output order is the
      // raw full tiebreak (the q_tokenize_rank convention: a unique total
      // order of CLEAN columns, sorted below the projection).
      val li = graft.Tables.lineitem(spark, dir)
      val bounds = cachedLineitemBounds(spark, dir, LineitemCols, DefaultBins)
      val injected = when(
        pmod(col("l_orderkey") + col("l_linenumber"), lit(7)) === 3,
        lit(Double.NaN)).otherwise(col("l_extendedprice"))
      li.orderBy((LineitemKeys ++ LineitemCols).map(col): _*)
        .select(col("l_orderkey"), col("l_linenumber"),
          discretize(injected, bounds("l_extendedprice"), DefaultBins)
            .as("price_token"),
          BucketizeExpr.bucketize(injected.cast("double"),
            bounds("l_extendedprice"), DefaultBins, rightClosed = false)
            .as("price_token_ro"))
    }
  )

  private def probsSql(bins: Int, inner: Boolean): String = {
    val ps = if (inner) innerProbs(bins) else (0 to bins).map(_.toDouble / bins)
    ps.mkString("[", ",", "]")
  }

  /** DuckDB oracle SQL (driver t2 contract). */
  def oracleSql: Map[String, String] = {
    val fullTiebreak = (LineitemKeys ++ LineitemCols).mkString(", ")
    val tokenOrder = (LineitemKeys ++ LineitemCols.map(c => s"${c}_token")).mkString(", ")
    val tokenCols = LineitemCols
      .map(c => s"CAST(NTILE(100) OVER (ORDER BY $c, $fullTiebreak) - 1 AS INTEGER) AS ${c}_token")
      .mkString(", ")
    val boundsCtes = LineitemCols
      .map(c => s"list_transform(quantile_cont($c, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS b_$c")
      .mkString(", ")
    val bucketizeCols = LineitemCols
      .map(c => s"CAST(least(greatest(len(list_filter(b.b_$c, x -> l.$c > x)), 0), 99) AS INTEGER) AS ${c}_token")
      .mkString(", ")
    val boundsUnion = LineitemCols
      .map(c => s"SELECT '$c' AS col_name, quantile_cont($c, ${probsSql(DefaultBins, inner = false)}) AS bs FROM lineitem")
      .mkString(" UNION ALL ")
    // Shared by the exact-selection and full-keep-sample entries: both
    // reduce to rank-p(n-1) linear interpolation == quantile_cont at
    // verify/bench scale (see the q_quantile_bounds_sample query comment).
    val boundsSql =
      s"""WITH b AS ($boundsUnion)
         |SELECT col_name, CAST(gs - 1 AS INTEGER) AS p_idx, round(bs[gs], 6) AS boundary
         |FROM b, generate_series(1, ${DefaultBins + 1}) t(gs)
         |ORDER BY col_name, p_idx""".stripMargin
    Map(
      // ORDER BY keys + token aliases (round 13, previously the full raw
      // tiebreak): matches the Spark side's packed-token sort. Ties under
      // (keys, tokens) are rows whose entire projected output is
      // identical, so both engines hash the same regardless of tie order.
      "q_tokenize_rank" ->
        s"""SELECT l_orderkey, l_linenumber, $tokenCols
           |FROM lineitem ORDER BY $tokenOrder""".stripMargin,
      "q_quantile_bounds" -> boundsSql,
      "q_quantile_bounds_sample" -> boundsSql,
      "q_tokenize_bucketize" ->
        s"""WITH b AS (SELECT $boundsCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $bucketizeCols
           |FROM lineitem l CROSS JOIN b ORDER BY $tokenOrder""".stripMargin,
      "q_tokenize_rightopen" -> {
        val cols = LineitemCols
          .map(c => s"CAST(least(len(list_filter(b.b_$c, x -> l.$c >= x)), 99) AS INTEGER) AS ${c}_token")
          .mkString(", ")
        s"""WITH b AS (SELECT $boundsCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $cols
           |FROM lineitem l CROSS JOIN b ORDER BY $tokenOrder""".stripMargin
      },
      "q_tokenize_qcut" -> {
        val edgeCtes = LineitemCols
          .map(c => s"list_sort(list_distinct(list_transform(quantile_cont($c, ${probsSql(DefaultBins, inner = false)}), x -> round(x, 6)))) AS e_$c")
          .mkString(", ")
        val tokenExprs = LineitemCols
          .map(c => s"CAST(greatest(least(len(list_filter(e.e_$c[2:-2], x -> l.$c > x)), len(e.e_$c) - 2), 0) AS INTEGER) AS ${c}_token")
          .mkString(", ")
        s"""WITH e AS (SELECT $edgeCtes FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber, $tokenExprs
           |FROM lineitem l CROSS JOIN e ORDER BY $tokenOrder""".stripMargin
      },
      "q_token_histogram" ->
        s"""WITH b AS (SELECT list_transform(quantile_cont(l_extendedprice, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS bs FROM lineitem),
           |t AS (SELECT CAST(least(greatest(len(list_filter(b.bs, x -> l.l_extendedprice > x)), 0), 99) AS INTEGER) AS token
           |      FROM lineitem l CROSS JOIN b)
           |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY token ORDER BY token""".stripMargin,
      // q_tokenize_nan: NO NaN special-casing here — DuckDB's NaN total
      // order (NaN > every finite boundary) must land the top bin on its
      // own, mirroring the Spark side's codegen NaN-last branch.
      "q_tokenize_nan" ->
        s"""WITH b AS (SELECT list_transform(quantile_cont(l_extendedprice, ${probsSql(DefaultBins, inner = true)}), x -> round(x, 6)) AS bs FROM lineitem)
           |SELECT l.l_orderkey, l.l_linenumber,
           |  CAST(least(greatest(len(list_filter(b.bs, x -> (CASE WHEN (l.l_orderkey + l.l_linenumber) % 7 = 3 THEN 'nan'::DOUBLE ELSE l.l_extendedprice END) > x)), 0), 99) AS INTEGER) AS price_token,
           |  CAST(least(len(list_filter(b.bs, x -> (CASE WHEN (l.l_orderkey + l.l_linenumber) % 7 = 3 THEN 'nan'::DOUBLE ELSE l.l_extendedprice END) >= x)), 99) AS INTEGER) AS price_token_ro
           |FROM lineitem l CROSS JOIN b
           |ORDER BY $fullTiebreak""".stripMargin
    )
  }
}
