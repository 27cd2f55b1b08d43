package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.server.{HttpLoop, QueryDoor, TagTables, WebApi}
import graft.sources.LineProtocol
import graft.tql.Tql

/** Server side of `serve_mixed`: the engine's HTTP doors on loopback,
  * driven by the load generator in `perfbench/run.py`.
  *
  * Protocol on stdout/stdin: the JVM prints `READY <port>` once the doors
  * answer, then reads one command per line:
  *   - `CPU`: print the engine's CPU seconds so far (Main.engineCpuS);
  *   - `HEAP`: print the heap in use after a full collection, in MB;
  *   - `TRACE`: install the listeners and the traced doors (below), then
  *     print `DONE`; the passes before it run untraced;
  *   - `STATS <file>`: write peak RSS and, after a traced pass, the
  *     per-layer counters and per-op service times to <file>, then print
  *     `DONE`;
  *   - `QUIT` (or end of input): return, so Main ends the JVM.
  *
  * When tracing, the doors are mirrored under `/trace/…`. A mirror gives
  * its reply from the door's own entry point (LineProtocol.writeTo,
  * WebApi.dbQuery, Tql.run, as HttpLoop calls them), and times the layer
  * the entry point does first by calling that layer's public function
  * once more beside it: LineProtocol.parse for a write, QueryDoor.execute
  * for a SQL read, Tql.compile for a TQL read. The next layer is the
  * entry point's time minus that layer's: `server.insert_ms` for a
  * write, and for reads `sinks.render_ms`, which also leaves out the
  * Spark job time inside the entry point. The request's `op` query
  * parameter keys its in-process service time, which the generator
  * subtracts from its own latency for the same op; the repeated layer
  * call is in both, so their difference is the wait outside the
  * handler. */
object ServeBench {
  /** op id → in-process service time (ms). */
  private val service = new ConcurrentHashMap[String, java.lang.Double]()
  /** read entry-point calls (start ms, end ms, wall ms, ms of the layer
    * timed apart), for the render split in `stats`. */
  private val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Double)]()

  private def served[T](query: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally HttpLoop.parseQuery(query).get("op").foreach(id =>
      service.put(id, (System.nanoTime() - t0) / 1e6))
  }

  /** Run `f`, adding its wall ms to counter `k`; returns those ms. */
  private def timed(k: String)(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.add(k, ms)
    ms
  }

  /** Run a read door's entry point and record its interval. */
  private def read[T](apartMs: Double)(f: => T): T = {
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = f
    reads.add((s0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6, apartMs))
    r
  }

  private def replied(bytes: Array[Byte]): Array[Byte] = {
    Trace.add("sinks.reply_kb", bytes.length / 1024.0)
    bytes
  }

  private def mirror(spark: SparkSession): Unit = {
    HttpLoop.handle("/trace/metrics/write") { (_, query, _, body) =>
      served(query) {
        val params = HttpLoop.parseQuery(query)
        val precision = params.getOrElse("precision", "ns")
        val decodeMs = timed("server.decode_ms")(LineProtocol.parse(body, precision))
        val writeMs = timed("server.write_ms")(
          LineProtocol.writeTo(spark, params.getOrElse("db", ""), body, precision))
        Trace.add("server.insert_ms", math.max(0.0, writeMs - decodeMs))
        (204, "application/json", Array.emptyByteArray)
      }
    }
    HttpLoop.handle("/trace/db/query") { (_, query, _, _) =>
      served(query) {
        val params = HttpLoop.parseQueryMulti(query)
        val buildMs = timed("server.query_build_ms")(
          QueryDoor.execute(spark, params("q").head))
        val reply = read(buildMs)(WebApi.dbQuery(spark, params))
        (reply.status, reply.contentType, replied(reply.wireBytes))
      }
    }
    HttpLoop.handle("/trace/db/tql") { (_, query, _, body) =>
      served(query) {
        val script = new String(body, "UTF-8")
        val compileMs = timed("tql.compile_ms")(Tql.compile(spark, script))
        (200, "application/json", replied(read(compileMs)(Tql.run(spark, script)).getBytes("UTF-8")))
      }
    }
  }

  private def stats(spark: SparkSession, file: String, trace: Boolean): Unit = {
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val snap = Trace.snapshot()
        val renderMs = reads.asScala.iterator.map { case (s, e, ms, apart) =>
          math.max(0.0, ms - apart - Trace.jobMsWithin(s, e))
        }.sum
        val held = TagTables.descriptorFor(ServeTable).fold(0L)(_ =>
          spark.table(ServeTable).count())
        snap ++ Map("sinks.render_ms" -> renderMs, "server.rows_held" -> held.toDouble)
      }
    Json.write(file, Map(
      "rss_peak_mb" -> Main.rssPeakMb(),
      "layers" -> layers,
      "hygiene" -> Hygiene.measureAndClean(),
      "service_ms" -> service.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
  }

  /** The tag table the generator drops, recreates and fills every pass. */
  val ServeTable = "pbtag"

  def run(spark: SparkSession, a: Main.Args): Unit = {
    val port = HttpLoop.ensureServer(spark)
    println(s"READY $port")
    Console.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "QUIT") {
      line.trim.split("\\s+", 2) match {
        case Array("CPU") =>
          println(Main.engineCpuS())
          Console.flush()
        case Array("HEAP") =>
          println(Main.heapLiveMb())
          Console.flush()
        case Array("TRACE") =>
          Trace.install(spark)
          mirror(spark)
          println("DONE")
          Console.flush()
        case Array("STATS", file) =>
          stats(spark, file, a.trace)
          println("DONE")
          Console.flush()
        case other => System.err.println(s"[perfbench] unknown command: ${other.mkString(" ")}")
      }
      line = in.readLine()
    }
  }
}
