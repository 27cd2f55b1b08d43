package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `perfbench/run.py` starts it; it never starts itself.
  *
  *   perfbench.Main <workload> <dataDir> <workDir> <seed> <seconds> <trace 0|1>
  *
  * `ts_queries` writes `<workDir>/result.json` and exits. `serve_mixed`
  * serves the HTTP doors and takes commands on stdin (see ServeBench).
  * The JVM always ends through System.exit: the server's dispatcher
  * thread is not a daemon and has no stop, so returning from main would
  * leave the process running. */
object Main {
  final case class Args(workload: String, data: String, work: String,
                        seed: Long, seconds: Double, trace: Boolean)

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.core.Sessions.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.Sessions.installRules(s)
    mark("session")
    s
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler threads. */
  private val jitThread = "^C[12] CompilerThre.*".r

  /** CPU seconds this JVM has used outside its JIT compiler threads: the
    * engine's own work, its garbage collection included. JIT work left
    * over from the warm-up grew with host contention, so it is kept out.
    * The compiler threads live as long as the JVM (run.py turns off
    * dynamic compiler threads), so subtracting their running totals is
    * exact. */
  def engineCpuS(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
    val jitTicks = tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "comm").toPath), "UTF-8").trim
        if (!jitThread.matches(comm)) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(
            new java.io.File(t, "stat").toPath), "UTF-8")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum
    os.getProcessCpuTime / 1e9 - jitTicks / 100.0
  }

  /** Heap in use after a full collection, in MB: what the JVM retains. */
  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** wall-clock marks (epoch ms) of the run's set-up steps. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  def mark(step: String): Unit = marks(step) = System.currentTimeMillis()

  def main(argv: Array[String]): Unit = {
    marks("jvm_start") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    mark("main")
    val a = Args(argv(0), argv(1), argv(2), argv(3).toLong, argv(4).toDouble, argv(5) == "1")
    val code =
      try {
        a.workload match {
          case "ts_queries" => QueryBench.run(session(), a)
          case "serve_mixed" => ServeBench.run(session(), a)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }
}

/** Minimal JSON writer for the result files the Python side reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), apply(v))
}
