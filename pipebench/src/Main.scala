package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftListenerFlush

import graft.GraftSession

/** One benchmark run in one JVM: set-up, then whole passes of the
  * workload until `--seconds` is used up, then one result line.
  *
  *   pipebench.Main --workload backfill|catchup|curation --seed N
  *     --seconds S --trace 0|1 --work DIR --cores C --launched-ns T
  *     [--trace-out FILE]
  *
  * The last stdout line is `PIPEBENCH_RESULT {json}`. The reported
  * figures are those of the first pass after set-up: a scheduled batch
  * run pays JIT warm-up every time, so no warm-up pass precedes it.
  * Whole further passes run while `--seconds` allows; their (warm)
  * figures go to stderr and the trace file only. */
object Main {

  /** Per-layer metrics the traced run prints. `calls` is fixed by the
    * workload and goes to the trace file only; spill is printed for the
    * text operators, the only layers that hold enough rows to spill. */
  def layerMetrics(layer: String): Seq[String] = layer match {
    case "session" => Seq("self_s")
    case l =>
      val all = new Counter().fields.map(_._1).filterNot(_ == "calls")
      if (l.startsWith("ext.")) all else all.filterNot(_ == "spill_bytes")
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  final case class Pass(wallS: Double, cpuS: Double, jobs: Long, files: Long,
      bytes: Long, layers: Map[String, Counter])

  def main(args: Array[String]): Unit = run(args)

  def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cores = opt("cores").toInt
    val launchedNs = opt("launched-ns").toLong
    Files.createDirectories(work)

    val sessionStart = epochNs()
    val spark = GraftSession.local(cores, "pipebench")
    val sessionEnd = epochNs()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val jobCounter = new JobCounter
    sc.addSparkListener(jobCounter)
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(sc, trace)
    val wl = Workload(workload, new Ctx(spark, tracer, work, seed, cores))
    wl.setup()
    val setupS = (epochNs() - launchedNs) / 1e9
    System.err.println(f"[pipebench] setup ${setupS}%.2f s, session " +
      f"${(sessionEnd - sessionStart) / 1e9}%.2f s")
    // set-up's own jobs are not a pass's
    GraftListenerFlush.flush(sc)
    listener.foreach(_.takePass(Nil))

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val failures = mutable.ArrayBuffer.empty[String]
    val measureStart = System.nanoTime()
    var lastRoundS = 0.0
    def elapsedS = (System.nanoTime() - measureStart) / 1e9
    while (passes.isEmpty || elapsedS + lastRoundS <= seconds) {
      val roundStart = System.nanoTime()
      val round = passes.size
      wl.prepare(round)
      GraftListenerFlush.flush(sc)
      val spans0 = tracer.spans.size
      val jobs0 = jobCounter.jobs.get
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      tracer.span("pass")(wl.pass(round))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      GraftListenerFlush.flush(sc)
      val jobs = jobCounter.jobs.get - jobs0
      val (files, bytes) = Workload.census(wl.outputDirs(round))
      val layers = listener.map(_.takePass(tracer.spans.drop(spans0).toSeq))
        .getOrElse(Map.empty)
      wl.rowsDelivered.foreach { case (l, n) =>
        layers.get(l).foreach(c => c.rowsOut += n)
      }
      if (round == 0) {
        failures ++= wl.check(round)
        if (trace && workload == "backfill") {
          val written = layers.values.map(_.filesWritten).sum.toLong
          if (written != files)
            failures += s"listener files_written $written != lake census $files"
        }
      }
      wl.cleanup(round)
      // the checks' own jobs must not count toward the next pass
      GraftListenerFlush.flush(sc)
      listener.foreach(_.takePass(Nil))
      passes += Pass(wallS, cpuS, jobs, files, bytes, layers)
      lastRoundS = (System.nanoTime() - roundStart) / 1e9
      System.err.println(f"[pipebench] pass $round wall $wallS%.3f s, cpu $cpuS%.2f s, " +
        f"jobs $jobs, round $lastRoundS%.2f s")
    }
    val timed = passes.head
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", timed.wallS, "s"),
        ("cpu_s", timed.cpuS, "s"),
        ("spark_jobs", timed.jobs.toDouble, "count"),
        ("lake_files", timed.files.toDouble, "count"),
        ("lake_bytes", timed.bytes.toDouble, "B"))
      else Layers.Names.flatMap { layer =>
        layerMetrics(layer).map { m =>
          val v =
            if (layer == "session") (sessionEnd - sessionStart) / 1e9
            else timed.layers.get(layer).flatMap(_.fields.toMap.get(m)).getOrElse(0.0)
          (s"$layer.$m", v, unit(m))
        }
      }

    opt.get("trace-out").foreach { path =>
      val sessionSpan = s"""{"name":"session","start_ns":$sessionStart,"end_ns":$sessionEnd,"parent":-1}"""
      val spans = sessionSpan +: tracer.spans.map(s =>
        s"""{"id":${s.id},"name":${jstr(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent}}""")
      val perPass = passes.map { p =>
        val ls = p.layers.toSeq.sortBy(_._1).map { case (l, c) =>
          jstr(l) + ":{" + c.fields.map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString(",") + "}"
        }
        s"""{"wall_s":${p.wallS},"cpu_s":${p.cpuS},"spark_jobs":${p.jobs},"lake_files":${p.files},"lake_bytes":${p.bytes},"layers":{${ls.mkString(",")}}}"""
      }
      Files.write(Paths.get(path), (s"""{"workload":${jstr(workload)},"seed":$seed,""" +
        s""""setup_s":$setupS,"spans":[${spans.mkString(",\n")}],""" +
        s""""passes":[${perPass.mkString(",\n")}]}""" + "\n").getBytes("UTF-8"))
    }

    failures.foreach(f => System.err.println(s"[pipebench] check failed: $f"))
    val ms = metrics.map { case (k, v, u) => s"""${jstr(k)}:{"value":${num(v)},"unit":${jstr(u)}}""" }
    println("PIPEBENCH_RESULT " +
      s"""{"correct":${failures.isEmpty},"attempted":${tracer.attempted},""" +
      s""""failed":${tracer.failed},"passes":${passes.size},"metrics":{${ms.mkString(",")}}}""")
    spark.stop()
  }

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_s") => "s"
    case m if m.contains("bytes") => "B"
    case m if m.startsWith("rows_") => "rows"
    case _ => "count"
  }
}
