package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Callable, CountDownLatch, ExecutionException,
  Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry

/** The benchmark's engine process. One run = one fresh JVM:
  *
  *  1. set-up: from JVM launch until a local session has run a trivial job
  *     (`setup` mode does only this and exits, for more set-up samples);
  *  2. a cold pass: every job of the workload once, caches empty;
  *  3. one settling pass, which lets the JIT finish compiling the hot
  *     paths and is not a warm sample;
  *  4. warm passes in the same session until `seconds` have passed (at
  *     least two; four in a traced run, which alternates traced and
  *     untraced passes to measure the tracer's own overhead);
  *  5. the cold pass's rows are written out for the correctness checks,
  *     after every measurement has been taken.
  *
  * Each job runs on its own thread under a job group; past its deadline the
  * group is cancelled and the job is recorded as a timeout. If its thread or
  * its tasks are still running 10 s later, no further call runs.
  *
  * Usage: Harness <workload|setup> <inputDir> <outDir> <seconds> <trace 0|1> <cpus>
  * Writes `<outDir>/result.json` (and `<outDir>/trace.json` when traced).
  */
object Harness {

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.files.openCostInBytes", 262144L)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def procField(file: String, key: String): Double =
    Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Order-free digest of a job's rows: warm passes must reproduce it. */
  private def digest(o: Output): String = {
    val md = MessageDigest.getInstance("SHA-256")
    o.rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(UTF_8)); md.update(0: Byte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  final case class Call(job: Job, start: Long, end: Long,
      status: String, error: String, out: Option[Output],
      marks: Seq[(String, Long, Long)], alive: Boolean, rows: Int = 0,
      hash: String = "")

  final case class Pass(index: Int, kind: String, traced: Boolean,
      start: Long, end: Long, cpuS: Double, gcS: Double, writeMb: Double,
      calls: Seq[Call], cachedMb: Double, cachedRelations: Int)

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, input, out, secondsArg, traceArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val work = Paths.get(out).toAbsolutePath.toString

    val spark = session(cpus, work)
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (workload == "setup") {
      Files.writeString(Paths.get(s"$work/result.json"),
        json(Map("setup_s" -> List(setupS))))
      Runtime.getRuntime.halt(0)
    }
    val jobs = Workloads.all.getOrElse(workload,
      sys.error(s"unknown workload $workload"))()
    val sc = spark.sparkContext
    val tracer = new Tracer
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "perfbench-call"); t.setDaemon(true); t
    }
    val coldOutputs = mutable.LinkedHashMap.empty[Job, Output]
    var stuck = false

    // tasks still running on the local executor (cancelled ones included)
    def runningTasks(): Int =
      sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum

    def runCall(job: Job, pass: Int, ctx: Ctx): Call = {
      val group = s"perfbench/$pass/${job.name}"
      val marks = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val finished = new CountDownLatch(1)
      val start = System.currentTimeMillis()
      val fut = pool.submit(new Callable[Output] {
        def call(): Output = {
          sc.setJobGroup(group, job.name, interruptOnCancel = true)
          ctx.marksOfThisCall.set(marks)
          try job.run(ctx) finally { sc.clearJobGroup(); finished.countDown() }
        }
      })
      val (status, error, out) =
        try ("ok", "", Some(fut.get((job.deadlineS * 1e3).toLong,
          TimeUnit.MILLISECONDS)))
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(group)
            fut.cancel(true)
            ("timeout", s"deadline ${job.deadlineS} s", None)
          case e: ExecutionException =>
            ("error", String.valueOf(e.getCause), None)
        }
      val end = System.currentTimeMillis()
      // a cancelled call whose thread or tasks keep running would take
      // cores from every later call; give it a grace period, then stop
      val settled = status != "timeout" ||
        (finished.await(10L, TimeUnit.SECONDS) && {
          val until = System.currentTimeMillis() + 10000L
          while (runningTasks() > 0 && System.currentTimeMillis() < until)
            Thread.sleep(50L)
          runningTasks() == 0
        })
      if (pass == 0) out.foreach(coldOutputs(job) = _)
      Call(job, start, end, status, error, out,
        marks.synchronized(marks.toList), alive = !settled)
    }

    def wcharMb(): Double = procField("/proc/self/io", "wchar") / 1e6

    def runPass(index: Int, kind: String, traced: Boolean): Pass = {
      if (traced) tracer.attach(spark)
      val ctx = new Ctx(spark, input)
      val (cpu0, gc0, w0) = (cpuSeconds(), gcSeconds(), wcharMb())
      val start = System.currentTimeMillis()
      val calls = mutable.ArrayBuffer.empty[Call]
      val it = jobs.iterator
      while (it.hasNext && !stuck) {
        val c = runCall(it.next(), index, ctx)
        stuck = c.alive
        calls += c
      }
      val end = System.currentTimeMillis()
      val (cpu1, gc1, w1) = (cpuSeconds(), gcSeconds(), wcharMb())
      val storage = sc.getRDDStorageInfo.filter(_.isCached)
      if (traced) tracer.detach(spark)
      // digests are the harness's own work: taken after the pass's readings
      val hashed = calls.toList.map { c =>
        c.copy(out = None, rows = c.out.map(_.rows.length).getOrElse(0),
          hash = c.out.map(digest).getOrElse(""))
      }
      Pass(index, kind, traced, start, end, cpu1 - cpu0, gc1 - gc0, w1 - w0,
        hashed, storage.map(i => i.memSize + i.diskSize).sum / 1e6,
        storage.length)
    }

    val passes = mutable.ArrayBuffer(runPass(0, "cold", trace))
    val warm = !Workloads.coldOnly(workload)
    if (warm && !stuck) passes += runPass(1, "settle", traced = false)
    val minWarm = if (trace) 4 else 2
    val warmStart = System.nanoTime()
    while (warm && !stuck && (passes.size - 2 < minWarm ||
        (System.nanoTime() - warmStart) / 1e9 < seconds)) {
      // traced runs alternate, so tracer overhead is measured in-run
      passes += runPass(passes.size, "warm", trace && passes.size % 2 == 0)
    }
    val peakRssMb = procField("/proc/self/status", "VmHWM") / 1024.0

    // correctness material, written after every measurement is taken
    val faceDir = s"$work/outputs/faces"
    val jobDir = s"$work/outputs/jobs"
    Files.createDirectories(Paths.get(faceDir))
    Files.createDirectories(Paths.get(jobDir))
    coldOutputs.foreach { case (job, o) =>
      if (o.schema.nonEmpty) {
        val dir = job.face.fold(s"$jobDir/${job.name}")(f => s"$faceDir/$f")
        spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(dir)
      }
    }
    val oracles = jobs.flatMap(_.face).flatMap(f =>
      SparkEntry.oracleSql.get(f).map(f -> _)).toMap
    Files.writeString(Paths.get(s"$faceDir/oracle_sql.json"), json(oracles))

    val result = Map(
      "workload" -> workload,
      "setup_s" -> List(setupS),
      "peak_rss_mb" -> peakRssMb,
      "stuck" -> stuck,
      "passes" -> passes.toList.map { p =>
        Map("index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
          "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "write_mb" -> p.writeMb,
          "wall_s" -> (p.end - p.start) / 1e3,
          "cached_mb" -> p.cachedMb, "cached_relations" -> p.cachedRelations,
          "calls" -> p.calls.map { c =>
            Map("name" -> c.job.name, "layer" -> c.job.layer,
              "status" -> c.status, "error" -> c.error,
              "deadline_s" -> c.job.deadlineS,
              "elapsed_s" -> (c.end - c.start) / 1e3,
              "rows" -> c.rows, "hash" -> c.hash)
          })
      })
    Files.writeString(Paths.get(s"$work/result.json"), json(result))
    if (trace) Files.writeString(Paths.get(s"$work/trace.json"),
      json(spans(workload, passes.toList, tracer)))
    // every result is on disk and the run directory is deleted after the
    // process: end it at once, without a session stop (which tasks of a
    // cancelled job that ignore the interrupt would block as long as they
    // run) or shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  /** The span tree: workload → pass → call (→ marks) → Spark job → stage,
    * with planning and micro-batch spans under the call they ran in. Spark
    * jobs attach by the harness's job group; work on other threads
    * (streaming micro-batches) attaches by time, since calls never overlap. */
  private def spans(workload: String, passes: Seq[Pass],
      tracer: Tracer): Map[String, Any] = {
    val own = mutable.ArrayBuffer.empty[Span]
    val w0 = passes.head.start
    own += Span("w", "workload", workload, w0, passes.last.end)
    val calls = mutable.ArrayBuffer.empty[(Span, String)]
    passes.foreach { p =>
      own += Span(s"p${p.index}", "pass", p.kind, p.start, p.end, parent = "w",
        counts = Map("traced" -> (if (p.traced) 1.0 else 0.0),
          "gc_s" -> p.gcS, "cached_mb" -> p.cachedMb,
          "cached_relations" -> p.cachedRelations.toDouble))
      p.calls.zipWithIndex.foreach { case (c, i) =>
        val id = s"p${p.index}/c$i"
        val s = Span(id, "call", c.job.name, c.start, c.end,
          parent = s"p${p.index}", layer = c.job.layer)
        own += s
        calls += ((s, s"perfbench/${p.index}/${c.job.name}"))
        c.marks.foreach { case (n, a, b) =>
          own += Span(s"$id/$n", "mark", n, a, b, parent = id,
            layer = c.job.layer)
        }
      }
    }
    val byGroup = calls.map { case (s, g) => g -> s.id }.toMap
    def byTime(t: Long): String = calls.collectFirst {
      case (s, _) if s.start <= t && t <= s.end => s.id
    }.getOrElse("w")
    tracer.spans.foreach { s =>
      if (s.parent.isEmpty)
        s.parent = byGroup.getOrElse(s.name, byTime(s.start))
    }
    val all = own ++ tracer.spans
    val runId = s"$workload-$w0"
    Map("run_id" -> runId, "spans" -> all.toList.map { s =>
      Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent, "layer" -> s.layer, "run" -> runId,
        "start_ms" -> s.start, "end_ms" -> s.end, "counts" -> s.counts)
    })
  }
}
