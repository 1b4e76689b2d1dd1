package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --launch-ms <epoch ms> --work <dir> --results <dir>
  *     --source-sha <hash> [--commit <sha>]
  *
  * `perfbench/run.py` builds the classpath and starts this main. The last
  * line of standard output is the result object; the line before it is
  * the run record (host stamp, samples, gauge).
  */
object Main {
  /** Session set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3
  /** After the workload's warm-up ops, the timed ops go on until their own
    * op time adds up to `--seconds`, and are at least `MinOps`; reads and
    * checks do not count towards it. */
  val MinOps = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, launchMs: Long, work: String, results: String,
                        sourceSha: String, commit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("launch-ms").toLong,
      need("work"), need("results"), need("source-sha"), m.getOrElse("commit", ""))
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val o = parse(args)
    val ok = run(o, mainMs)
    sys.exit(if (ok) 0 else 1)
  }

  private final case class Setup(startS: Double, firstJobS: Double) {
    def total: Double = startS + firstJobS
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use right after a full collection. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private def run(o: Opts, mainMs: Long): Boolean = {
    val jvmBootS = (mainMs - o.launchMs) / 1e3
    val w = Workload(o.workload, o.work, o.seed)
    var spark: SparkSession = null
    var trace: Trace = null
    val setups = (0 until SetupReps).map { rep =>
      if (spark != null) { graft.ops.InternalCaches.clear(); spark.stop() }
      val t0 = System.nanoTime()
      spark = graft.GraftSession.get(s"perfbench-${o.workload}")
      val startS = secondsSince(t0)
      trace = new Trace(spark, o.trace)
      val t1 = System.nanoTime()
      trace.span("session.first_job")(spark.range(1000).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save())
      Setup(startS, secondsSince(t1))
    }
    val tg = System.nanoTime()
    trace.span("generate")(w.generate(spark))
    val generateS = secondsSince(tg)
    // the standing state is built once: on cdc_mixed it is a full sync
    val ts = System.nanoTime()
    trace.span("setup")(w.standing(spark, trace))
    val standingS = secondsSince(ts)
    if (o.trace) trace.span("compute_only")(w.separateStanding(spark, trace))
    val master = spark.sparkContext.master
    require(master == s"local[${o.cores}]",
      s"the session runs on $master, not local[${o.cores}]: set SPARK_GRAFT_CPUS")

    // the q1 ambient gauge of graft.Bench over the generated line items (the
    // same size for every seed): cold then warm, warm reported; it reads the
    // host's speed, so it is recorded, not gated
    def gauge(): Double = trace.span("gauge") {
      def q1(): Double = {
        val t0 = System.nanoTime()
        graft.queries.Analytics.q1PricingSummary(spark, w.oltp)
          .write.format("noop").mode("overwrite").save()
        secondsSince(t0)
      }
      q1(); q1()
    }
    val gaugeStart = gauge()
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= trace.span("check")(w.checkStanding(spark))

    val opS, readS, outBytes, heapMb = mutable.ArrayBuffer.empty[Double]
    val written = mutable.Map.empty[Int, (Int, Int)] // op -> (dirs, files)
    val layerValues = mutable.Map.empty[Int, Map[String, Double]]
    var failed = 0
    var checkS = 0.0
    val loopStart = System.nanoTime()
    val warmupOps = w.warmupOps
    var i = 0
    def timedOpS = opS.drop(warmupOps).sum
    while ((i < warmupOps + MinOps || timedOpS < o.seconds) && i < w.maxOps) {
      val timed = i >= warmupOps
      try trace.span(if (timed) "iter" else "warmup") {
        trace.span("before")(w.before(spark, i))
        val filesBefore = if (o.trace) Files.dataFiles(w.outRoot) else Set.empty[String]
        val t0 = System.nanoTime()
        trace.span("op")(w.op(spark, i, trace))
        opS += secondsSince(t0)
        if (o.trace) {
          val fresh = Files.dataFiles(w.outRoot) -- filesBefore
          written(i) = (fresh.map(f => java.nio.file.Paths.get(f).getParent).size, fresh.size)
        }
        val t1 = System.nanoTime()
        val rows = trace.span("read")(w.read(spark, i))
        readS += secondsSince(t1)
        outBytes += w.outBytes(spark).toDouble
        val tc = System.nanoTime()
        trace.span("check") {
          problems ++= w.check(spark, i, rows)
          layerValues(i) = w.layerValues(i)
          w.release(spark)
        }
        checkS += secondsSince(tc)
        heapMb += heapAfterGcMb()
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"op $i failed: $e"
          System.err.println(s"op $i failed:")
          e.printStackTrace()
      }
      i += 1
    }
    val loopS = secondsSince(loopStart)
    val gaugeEnd = gauge()

    // a traced run's op times against the untraced runs of the same
    // sources: the tracing overhead
    val untraced = if (o.trace) Results.untracedOpP50(o.results, o.workload, o.sourceSha)
                   else Nil
    val setupS = jvmBootS + Stats.median(setups.map(_.total)) + standingS
    def timedMedian(xs: Seq[Double]) = Stats.median(xs.drop(warmupOps))
    val correct = problems.isEmpty && failed == 0
    problems.foreach(p => System.err.println(s"MISMATCH $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", timedMedian(opS.toSeq), "s"),
        ("read_p50_s", timedMedian(readS.toSeq), "s"),
        ("out_bytes", timedMedian(outBytes.toSeq), "bytes"),
        ("peak_heap_mb", heapMb.drop(warmupOps).maxOption.getOrElse(0.0), "MB"))
      else Layers.metrics(trace.summary(), setups.map(s => (s.startS, s.firstJobS)),
        warmupOps, timedMedian(opS.toSeq), untraced.map(_._2), written.toMap,
        layerValues.toMap)

    val host = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "nproc" -> o.cores.toString,
      "master" -> Json.str(master),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> Json.str(spark.version),
      "commit" -> Json.str(o.commit), "source_sha" -> Json.str(o.sourceSha),
      "ops" -> i.toString, "warmup_ops" -> warmupOps.toString,
      "op_samples_s" -> Json.arr(opS.toSeq),
      "read_samples_s" -> Json.arr(readS.toSeq),
      "out_bytes_samples" -> Json.arr(outBytes.toSeq),
      "heap_mb_samples" -> Json.arr(heapMb.toSeq),
      "setup_samples_s" -> Json.arr(setups.map(_.total)),
      "session_start_samples_s" -> Json.arr(setups.map(_.startS)),
      "first_job_samples_s" -> Json.arr(setups.map(_.firstJobS)),
      "generate_s" -> Json.num(generateS),
      "loop_s" -> Json.num(loopS), "check_s" -> Json.num(checkS),
      "main_s" -> Json.num((System.currentTimeMillis() - mainMs) / 1e3),
      "jvm_boot_s" -> jvmBootS.toString,
      "setup_standing_s" -> Json.num(standingS),
      "untraced_runs" -> Json.strs(untraced.map(_._1)),
      "gauge_q1_s" -> Json.obj(Seq("start" -> gaugeStart.toString, "end" -> gaugeEnd.toString)),
      "problems" -> Json.strs(problems.toSeq))
    val record = Json.obj(Seq("record" -> Json.obj(host)))
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> i.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, unit) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit))) })))
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    new java.io.File(o.results).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.results, s"$tag.json"),
      record + "\n" + result + "\n")
    if (o.trace) java.nio.file.Files.writeString(
      java.nio.file.Paths.get(o.results, s"$tag-spans.json"), Layers.spansJson(trace.summary()))
    spark.stop()
    println(record)
    println(result)
    correct
  }
}

/** Earlier results of this benchmark, kept under `--results`. */
object Results {
  /** `op_p50_s` of every untraced run of `workload` on sources `sha`, with
    * its file name. */
  def untracedOpP50(dir: String, workload: String, sha: String): Seq[(String, Double)] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$workload-seed") && f.getName.endsWith("-trace0.json"))
    files.sortBy(_.getName).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      if (lines.size < 2) None
      else {
        val record = json.readTree(lines.get(0)).path("record")
        val op = json.readTree(lines.get(1)).path("metrics").path("op_p50_s").path("value")
        if (record.path("source_sha").asText() == sha && op.isNumber)
          Some(f.getName -> op.asDouble())
        else None
      }
    }
  }
}

/** Minimal JSON writing; values arrive already encoded. */
object Json {
  def str(s: String): String = graft.JsonEscape.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
