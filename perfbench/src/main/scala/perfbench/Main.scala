package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set-up, an untimed warm-up pass that is
  * checked against the benchmark's own computations, then timed passes for
  * the requested number of seconds, each checked against the warm-up.
  * Prints one JSON line per pass (its work fingerprint) and, last, the
  * result line.
  *
  * Usage: Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <k> --work <dir> [--tiny]
  */
object Main {
  /** Set-up runs this many times; `setup_s` takes the median. */
  val SetupRepeats = 3
  /** Timed passes run at least this many times, however short the run. */
  val MinPasses = 3
  /** Untimed passes before the timed ones; the first is checked. */
  val WarmupPasses = 6

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, tiny: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var tiny = false
    var i = 0
    while (i < args.length) {
      if (args(i) == "--tiny") { tiny = true; i += 1 }
      else {
        require(args(i).startsWith("--") && i + 1 < args.length, s"bad argument ${args(i)}")
        m(args(i).drop(2)) = args(i + 1)
        i += 2
      }
    }
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("work", ".bench_build"), tiny)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What is held in storage: persisted RDDs and the bytes they occupy. */
  final case class Level(rdds: Int, bytes: Long) {
    def within(o: Level): Boolean = rdds <= o.rdds && bytes <= o.bytes
  }

  def level(spark: SparkSession): Level = {
    val sc = spark.sparkContext
    Level(sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Waits, collecting garbage so that dropped outputs are cleaned, until
    * storage is back to `before`; returns the level reached.
    */
  def settle(spark: SparkSession, before: Level): Level = {
    var l: Level = null
    var tries = 0
    do {
      System.gc()
      Thread.sleep(50)
      l = level(spark)
      tries += 1
    } while (!l.within(before) && tries < 60)
    l
  }

  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(Double.NaN)
      finally src.close()
    }
  }

  /** Clock ticks since boot over all CPUs of the machine: those the host's
    * hypervisor took from them (steal), and all of them, from /proc/stat.
    */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val t = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (t.length > 7) t(7) else 0L, t.take(8).sum)
      } finally src.close()
    }
  }

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Share of the machine's CPU time taken as steal between two readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** A non-finite value has no JSON form and prints null. */
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  def printJson(fields: (String, JValue)*): Unit = println(compact(render(JObject(fields: _*))))

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val names = if (o.workload == "all") Workload.Names else Seq(o.workload)
    names.foreach(Workload(_, spark, o.seed, o.tiny)) // fails fast on an unknown name
    val r = try {
      // several workloads share one tour of the layers, after the last
      val results = names.map(n =>
        n -> new Run(spark, counters, o, n, sessionS, tour = n == names.last).result())
      if (names.length == 1) results.head._2
      else Result(results.forall(_._2.correct), results.map(_._2.attempted).sum,
        results.map(_._2.failed).sum,
        results.flatMap { case (n, r) => r.metrics.map { case (k, v) => s"$n.$k" -> v } })
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Result(correct = false, attempted = 1, failed = 1, Nil)
    }
    printJson(
      "correct" -> JBool(r.correct),
      "attempted" -> JInt(r.attempted),
      "failed" -> JInt(r.failed),
      "metrics" -> JObject(r.metrics.map { case (k, (v, u)) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u))
      }: _*))
    System.out.flush()
    spark.stop()
    System.exit(if (r.correct) 0 else 1)
  }
}

/** One workload's run inside the JVM. */
final class Run(spark: SparkSession, counters: Counters, o: Main.Opts, name: String,
    sessionS: Double, tour: Boolean) {
  import Main._
  private val sc = spark.sparkContext
  private val w = Workload(name, spark, o.seed, o.tiny)
  private val problems = mutable.ArrayBuffer.empty[String]
  private val tracer = new Tracer(sc, o.trace)

  private def fingerprint(pass: Int, warmup: Boolean, secs: Double, cpu: Double, steal: Double, work: Work,
      sums: Seq[(String, Long)], before: Level, after: Level, ok: Boolean): Unit =
    printJson(
      "workload" -> JString(name),
      "pass" -> JInt(pass),
      "warmup" -> JBool(warmup),
      "seconds" -> num(secs),
      "cpu_s" -> num(cpu),
      "steal_share" -> num(steal),
      "jobs" -> JInt(work.jobs),
      "stages" -> JInt(work.stages),
      "tasks" -> JInt(work.tasks),
      "shuffle_write_bytes" -> JInt(work.shuffleWriteBytes),
      "shuffle_read_bytes" -> JInt(work.shuffleReadBytes),
      "checksums" -> JObject(sums.map { case (k, v) => k -> JString(java.lang.Long.toHexString(v)) }: _*),
      "persisted_rdds" -> JArray(List(JInt(before.rdds), JInt(after.rdds))),
      "storage_bytes" -> JArray(List(JInt(before.bytes), JInt(after.bytes))),
      "ok" -> JBool(ok))

  /** One pass with its bookkeeping: wall time, engine work, checksums,
    * freeing its outputs and the storage check.
    */
  private def onePass(t: Tracer, pass: Int)(check: PassOut => Unit): (Double, Seq[(String, Long)], Boolean) = {
    val before = level(spark)
    counters.settle(sc)
    val w0 = counters.snapshot()
    val (ticks0, cpu0) = (cpuTicks(), processCpuS())
    val (out, secs) = seconds(t.span("pass")(w.pass(t)))
    val (steal, cpu) = (stealShare(ticks0, cpuTicks()), processCpuS() - cpu0)
    counters.settle(sc)
    val work = counters.snapshot().minus(w0)
    val sums = out.checksums
    check(out)
    out.free()
    val after = settle(spark, before)
    val isolated = after.within(before)
    if (!isolated) System.err.println(s"[perfbench] $name pass $pass left storage at $after, was $before")
    fingerprint(pass, pass <= 0, secs, cpu, steal, work, sums, before, after, isolated)
    (secs, sums, isolated)
  }

  def result(): Result = {
    val setups = (1 to (if (o.tiny) 1 else SetupRepeats)).map(_ => seconds(w.setup())._2)
    val setupS = sessionS + Stats.median(setups)

    var quality = Double.NaN
    val (_, reference, warmIsolated) = onePass(Tracer.Off, 0) { out =>
      problems ++= w.verify(out)
      quality = w.quality(out)
    }
    if (!warmIsolated) problems += "the warm-up pass did not free what it held"
    for (pass <- 1 until (if (o.tiny) 1 else WarmupPasses)) {
      val (_, sums, isolated) = onePass(Tracer.Off, -pass)(_ => ())
      if (sums != reference || !isolated) problems += s"warm-up pass $pass did not repeat the first"
    }

    val times = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val start = System.nanoTime()
    val minPasses = if (o.tiny) 1 else MinPasses
    while (times.length < minPasses || (System.nanoTime() - start) / 1e9 < o.seconds) {
      val pass = times.length + 1
      try {
        val (secs, sums, isolated) = onePass(tracer, pass)(_ => ())
        times += secs
        if (sums != reference) {
          System.err.println(s"[perfbench] $name pass $pass outputs differ from the warm-up: " +
            sums.zip(reference).filter(p => p._1 != p._2).map(_._1._1).mkString(", "))
        }
        if (!isolated || sums != reference) failed += 1
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name pass $pass failed: $e")
          times += Double.NaN
          failed += 1
      }
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!o.trace) Seq(
        "pass_s" -> (Stats.median(times.filterNot(_.isNaN).toSeq), "s"),
        "setup_s" -> (setupS, "s"),
        "peak_rss_mb" -> (peakRssMb(), "MB"),
        "quality" -> (quality, "ratio"))
      else traceMetrics()
    w.close()
    problems.foreach(p => System.err.println(s"[perfbench] $name check failed: $p"))
    Result(problems.isEmpty, times.length, failed, metrics)
  }

  /** Engine counters per traced pass (medians over the passes), span
    * coverage, and the layer tour.
    */
  private def traceMetrics(): Seq[(String, (Double, String))] = {
    val passes = tracer.named("pass")
    val works = passes.map(p => tracer.subtree(p.id).map(counters.ofSpan).foldLeft(new Work)(_.add(_)))
    def med(f: Work => Double): Double = Stats.median(works.map(f))
    def mb(b: Long): Double = b / 1048576.0
    val cores = sc.defaultParallelism
    val idle = passes.zip(works).map { case (p, wk) => p.seconds * cores - wk.taskMs / 1000.0 }
    val coverage = passes.map(p => tracer.children(p.id).map(_.seconds).sum / p.seconds)
    if (coverage.exists(_ < 0.99)) problems += s"spans cover only ${coverage.min} of a traced pass"

    val others = mutable.Map.empty[String, Workload]
    def workload(n: String): Workload =
      if (n == name) w
      else others.getOrElseUpdate(n, { val x = Workload(n, spark, o.seed, o.tiny); x.setup(); x })
    val layers = new Layers(spark, counters, workload, o.tiny)
    if (tour) layers.run()
    others.values.foreach(_.close())
    problems ++= layers.problems
    writeTrace(layers.tracers.toSeq)

    Seq(
      "trace.pass_s" -> (Stats.median(passes.map(_.seconds)), "s"),
      "trace.span_coverage" -> (Stats.median(coverage), "ratio"),
      "spark.jobs" -> (med(_.jobs.toDouble), "count"),
      "spark.stages" -> (med(_.stages.toDouble), "count"),
      "spark.tasks" -> (med(_.tasks.toDouble), "count"),
      "spark.shuffle_write_mb" -> (med(x => mb(x.shuffleWriteBytes)), "MB"),
      "spark.shuffle_read_mb" -> (med(x => mb(x.shuffleReadBytes)), "MB"),
      "spark.spill_mb" -> (med(x => mb(x.spillBytes)), "MB"),
      "spark.gc_s" -> (med(_.gcMs / 1000.0), "s"),
      "spark.task_cpu_s" -> (med(_.cpuNs / 1e9), "s"),
      "spark.idle_core_s" -> (Stats.median(idle), "s")
    ) ++ layers.metrics.toSeq
  }

  /** Every span of the run, with the engine work given to it. */
  private def writeTrace(tour: Seq[Tracer]): Unit = {
    val dir = new java.io.File(o.work, "traces")
    dir.mkdirs()
    val spans = (tracer +: tour).flatMap(_.spans).sortBy(_.startNs)
    val origin = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val wk = counters.ofSpan(s.id)
      compact(render(JObject(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "start_s" -> num((s.startNs - origin) / 1e9), "end_s" -> num((s.endNs - origin) / 1e9),
        "jobs" -> JInt(wk.jobs), "stages" -> JInt(wk.stages), "tasks" -> JInt(wk.tasks),
        "shuffle_write_bytes" -> JInt(wk.shuffleWriteBytes),
        "shuffle_read_bytes" -> JInt(wk.shuffleReadBytes),
        "task_s" -> num(wk.taskMs / 1000.0))))
    }
    val f = new java.io.File(dir, s"$name-seed${o.seed}.json")
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try pw.println(lines.mkString("[\n", ",\n", "\n]")) finally pw.close()
  }
}
