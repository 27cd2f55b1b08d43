package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workload: a fixed list of `SparkEntry.queries` entries, run
  * in whole passes whose order is shuffled by the seed.
  *
  * A run is: one check pass (untimed; each result is written as parquet
  * for the DuckDB oracle compare, and the pass doubles as the cold
  * warm-up that builds once-per-JVM state such as rollups), a fixed
  * number of warm-up passes (the heap in use after a full collection is
  * measured before the last), timed passes for the
  * requested seconds, and, when tracing, one traced pass. */
object QueryBench {
  /** name → family. The time-series surface: mostly sub-second queries
    * whose cost is DataFrame build, Catalyst and job scheduling. */
  val tsQueries: Seq[(String, String)] = Seq(
    "q_sql_select" -> "timeseries", "q_map_kalman" -> "timeseries",
    "q_stream_avg" -> "stream", "q_tql_csvfile" -> "tql",
    "q_rollup_routed" -> "rollup", "q_log_tail" -> "log",
    "q_ilp_ingest" -> "line_protocol")

  val WarmupPasses = 3

  private type Builder = (SparkSession, String) => DataFrame

  /** Build and execute one query; its wall seconds, or None if it failed.
    * `toRdd.count()` runs the real physical plan without collecting. */
  private def attempt(spark: SparkSession, name: String, build: Builder,
                      data: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      build(spark, data).queryExecution.toRdd.count()
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        None
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(spark: SparkSession, a: Main.Args): Unit = {
    val qs = tsQueries
    val names = qs.map(_._1)
    val family = qs.toMap
    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val defs: Map[String, Builder] = names.map(n => n -> all(n)).toMap
    val rnd = new scala.util.Random(a.seed)

    // ---- check pass: results for the oracle compare, untimed ----------
    val checkDir = s"${a.work}/check"
    val checkFailed = ArrayBuffer.empty[String]
    val checkMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    rnd.shuffle(names).foreach { n =>
      val c0 = System.nanoTime()
      try defs(n)(spark, a.data).coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/$n")
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check $n failed: ${e.getMessage}")
          checkFailed += n
      }
      checkMs(n) = (System.nanoTime() - c0) / 1e6
    }
    Main.mark("check_pass")
    val oracles = graft.SparkEntry.oracleSql
    Json.write(s"$checkDir/oracle_sql.json",
      names.flatMap(n => oracles.get(n).map(n -> _)).toMap)

    // ---- warm-up, then timed passes ------------------------------------
    // WarmupPasses untimed passes follow the check pass, which is itself a
    // cold pass; a fixed count keeps set-up the same work in every run. The heap is measured before the last of them, after the
    // same work in every run; that pass absorbs the collector's resizing
    // after the full collection, which made the pass after it cost more
    // CPU. Timed passes continue, whole, until the seconds are used and 3
    // are done.
    def pass(): Seq[(String, Option[Double])] =
      rnd.shuffle(names).map(n => n -> attempt(spark, n, defs(n), a.data))
    def wall(p: Seq[(String, Option[Double])]): Double = p.map(_._2.getOrElse(0.0)).sum
    val warmWalls = ArrayBuffer.empty[Double]
    var firstOpMs = 0L
    var heapLiveMb = 0.0
    var t0 = 0L
    val timed = ArrayBuffer.empty[Seq[(String, Option[Double])]]
    val passCpu = ArrayBuffer.empty[Double]
    while (timed.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      if (warmWalls.size == WarmupPasses - 1) heapLiveMb = Main.heapLiveMb()
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val cpu0 = Main.engineCpuS()
      val p = pass()
      if (warmWalls.size == WarmupPasses) {
        if (timed.isEmpty) { firstOpMs = startMs; t0 = start }
        timed += p
        // a failed query leaves its share of the pass undone: the pass CPU
        // is scaled up by it, so a fast failure never shrinks the figure
        val ok = math.max(1, p.count(_._2.isDefined))
        passCpu += (Main.engineCpuS() - cpu0) * names.size / ok
      } else warmWalls += wall(p)
    }
    val times = names.map(n => n -> timed.toSeq.map(_.toMap.apply(n))).toMap
    val passWalls = timed.toSeq.map(wall)
    val attempted = timed.size.toLong * names.size
    val failedBy = qs.map(_._2).distinct.map { f =>
      f -> times.iterator.filter(kv => family(kv._1) == f).map(_._2.count(_.isEmpty)).sum.toLong
    }.toMap
    val failed = failedBy.values.sum
    val measuredS = (System.nanoTime() - t0) / 1e9
    // a failure ranks as slower than any success: it can only raise the
    // query's median, never lower pass_s
    val medians = names.map(n =>
      n -> median(times(n).map(_.getOrElse(Double.PositiveInfinity)))).toMap
    val passS = {
      val s = medians.values.sum
      if (s.isInfinite) measuredS else s
    }

    // ---- traced pass ---------------------------------------------------
    val traced: Map[String, Any] =
      if (!a.trace) Map.empty
      else {
        Trace.install(spark)
        val perQuery = rnd.shuffle(names).map { n =>
          val before = Trace.snapshot()
          val q0 = System.nanoTime()
          try {
            val df: DataFrame = Trace.span("queries.build_ms") {
              defs(n)(spark, a.data)
            }
            df.queryExecution.toRdd.count()
            Trace.phases(df.queryExecution)
          } catch { case NonFatal(e) => Trace.add("queries.failed", 1) }
          val ms = (System.nanoTime() - q0) / 1e6
          val after = Trace.snapshot()
          n -> (after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } +
            ("query_ms" -> ms))
        }.toMap
        def total(rs: Iterable[Map[String, Double]]): Map[String, Double] =
          rs.flatten.groupMapReduce(_._1)(_._2)(_ + _)
        val byFamily = perQuery.groupBy(kv => family(kv._1)).map {
          case (f, m) => f -> total(m.values)
        }
        Map("per_query" -> perQuery, "per_family" -> byFamily,
          "total" -> total(perQuery.values))
      }

    val hygiene = Hygiene.measureAndClean()
    Json.write(s"${a.work}/result.json", Map(
      "first_op_ms" -> firstOpMs,
      "marks" -> Main.marks.toMap,
      "warm_walls" -> warmWalls.toSeq,
      "pass_walls" -> passWalls.toSeq,
      "pass_cpu" -> passCpu.toSeq,
      "measured_s" -> measuredS,
      "pass_s" -> passS,
      "medians" -> medians,
      "attempted" -> attempted,
      "failed" -> failed,
      "per_kind" -> qs.map(_._2).distinct.map { f =>
        f -> Map("attempted" -> timed.size.toLong * qs.count(_._2 == f),
          "failed" -> failedBy(f))
      }.toMap,
      "check_failed" -> checkFailed.toSeq,
      "check_ms" -> checkMs.toMap,
      "rss_peak_mb" -> Main.rssPeakMb(),
      "heap_live_mb" -> heapLiveMb,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "hygiene" -> hygiene,
      "trace" -> traced))
  }
}

/** Bytes a run leaves behind under the JVM's tmpdir and the stream
  * checkpoint root, measured and then removed. */
object Hygiene {
  private def kb(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(kb).sum
    else f.length() / 1024.0

  private def clear(f: java.io.File): Unit =
    Option(f.listFiles()).toSeq.flatten.foreach { c => clear(c); c.delete() }

  def measureAndClean(): Map[String, Double] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val ck = new java.io.File(sys.env("GRAFT_STREAM_CK_ROOT"))
    val m = Map("queries.tmp_left_kb" -> kb(tmp), "streaming.ck_left_kb" -> kb(ck))
    clear(tmp); clear(ck)
    m
  }
}
