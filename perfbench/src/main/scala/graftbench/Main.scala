package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM.
  *
  * {{{
  * graftbench.Main --workload W --plan plan.json --work DIR --out result.json
  *                 --trace 0|1 [--trace-out trace.json]
  * }}}
  *
  * The plan (written by run.py) names the inputs and the number of timed
  * passes. The set-up builds a session and runs one untimed warm-up pass
  * on the smaller input; the same session runs the timed passes. The
  * result file holds the set-up time, every op with its outcome, and the
  * JVM's peak RSS. With `--trace 1` the trace file also holds spans, jobs,
  * stages, SQL executions and streaming progress.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val plan = new ObjectMapper().readTree(new java.io.File(opt("plan")))
    val work = opt("work")
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = plan.path("cores").asInt(4)
    val workload = Workload(opt("workload"), plan)

    // set-up: session build and one untimed warm-up pass on the smaller
    // input; setup_ms runs from JVM start to the first timed op
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, work)
    workload.pass(new Ctx(spark, s"$work/warm", warm = true, pass = -1,
      new Ops(spark.sparkContext), new Spans(false), None))
    clean(spark)

    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    val spans = new Spans(trace)
    val ops = new Ops(sc)
    if (trace) {
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec.qeListener)
    }
    spark.streams.addListener(rec.streamListener)

    val passes = plan.path("passes").asInt(1)
    val setupMs = Clock.nowMs - jvmStart
    val passMs = (0 until passes).map { p =>
      val ctx = new Ctx(spark, s"$work/pass$p", warm = false, pass = p, ops, spans, Some(rec))
      rec.currentPass = s"p$p"
      Tags.set(sc, Tags.Pass, s"p$p")
      val t0 = Clock.nowMs
      workload.pass(ctx)
      val t1 = Clock.nowMs
      // checks run under their own tag, after the pass's events are in
      Tags.set(sc, Tags.Pass, null)
      BusDrain(sc)
      rec.currentPass = s"c$p"
      Tags.set(sc, Tags.Pass, s"c$p")
      workload.check(ctx)
      Tags.set(sc, Tags.Pass, null)
      clean(spark)
      t1 - t0
    }
    BusDrain(sc)

    Json.write(opt("out"), Map(
      "workload" -> workload.name,
      "setup_ms" -> setupMs,
      "pass_ms" -> passMs,
      "ops" -> ops.all.map(opJson),
      "peak_rss_mb" -> vmHwmMb()))
    if (trace) Json.write(opt("trace-out"), traceJson(rec, spans, ops, cores))
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The per-op hygiene graft.Bench applies: free cached frames and
    * checkpointed RDDs so the next op does not pay for this one's heap. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def opJson(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "kind" -> o.kind, "pass" -> o.pass, "t0" -> o.t0, "t1" -> o.t1,
    "error" -> o.error, "result" -> o.result)

  /** Module and method of the innermost engine frame in a job's long
    * call site, e.g. `graft.zones.Zones$.writeStaging(Zones.scala:203)`
    * gives ("zones", "Zones.writeStaging"). Jobs with no engine frame were
    * submitted by the harness itself ("bench"). */
  def attribute(long: String): (String, String) =
    long.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => ("bench", "")
      case Some(frame) =>
        val parts = frame.takeWhile(_ != '(').split('.')
        val (pkg, cls) =
          if (parts.length >= 4) (parts(1), parts(2)) else ("", parts(1))
        val method = parts.last.split('$').filter(_.nonEmpty)
          .find(_ != "anonfun").getOrElse("")
        val module = pkg match {
          case "expressions" => "functions"
          case "" => if (cls.startsWith("SparkEntry")) "sparkentry" else "graft"
          case other => other
        }
        (module, s"${cls.stripSuffix("$")}.$method")
    }

  def traceJson(rec: Recorder, spans: Spans, ops: Ops, cores: Int): Map[String, Any] =
    rec.synchronized {
      Map(
        "cores" -> cores,
        "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "t0" -> s.t0, "t1" -> s.t1)),
        "jobs" -> rec.jobs.values.map { j =>
          // prefer the SQL execution's call site when it names engine code
          val (short, long) = j.props.get("spark.sql.execution.id")
            .flatMap(id => rec.sqlSites.get(id.toLong))
            .filter(_._2.contains("graft."))
            .getOrElse((j.short, j.long))
          val (module, method) = attribute(long)
          Map("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "ok" -> j.ok,
            "op" -> j.props.getOrElse(Tags.Op, ""), "pass" -> j.props.getOrElse(Tags.Pass, ""),
            "phase" -> j.props.getOrElse(Tags.Phase, ""), "short" -> short,
            "module" -> module, "method" -> method, "stages" -> j.stages,
            "persisted" -> j.persisted)
        },
        "stages" -> rec.stages.values.map { s =>
          val d = s.durations.sorted
          Map("id" -> s.id, "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs,
            "gc_ms" -> s.gcMs, "sw_bytes" -> s.swBytes, "sw_rows" -> s.swRows,
            "sr_bytes" -> s.srBytes, "fetch_wait_ms" -> s.fetchWaitMs,
            "spill_bytes" -> s.spillBytes, "in_rows" -> s.inRows, "out_rows" -> s.outRows,
            "out_bytes" -> s.outBytes,
            "dur_max_ms" -> d.lastOption.getOrElse(0L),
            "dur_med_ms" -> (if (d.isEmpty) 0.0
              else if (d.size % 2 == 1) d(d.size / 2).toDouble
              else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0))
        },
        "execs" -> rec.execs.map(e => Map("pass" -> e.pass, "phases_ms" -> e.phasesMs,
          "files" -> e.files, "rows" -> e.rows, "bytes" -> e.bytes,
          "observed" -> e.observed.toSeq.sorted)),
        "progress" -> rec.progress.map(p => Map("pass" -> p.pass, "t0" -> p.t0,
          "durations_ms" -> p.durations, "rows" -> p.rows)),
        "ops" -> ops.all.map(opJson))
    }
}

/** What one pass of a workload sees: its session, a private directory
  * for zone tables and checkpoints, and the recorders. */
final class Ctx(val spark: SparkSession, val dir: String, val warm: Boolean, val pass: Int,
                val ops: Ops, val spans: Spans, val rec: Option[Recorder]) {
  def input(plan: JsonNode, key: String): JsonNode =
    plan.path(if (warm) "warm" else "main").path(key)
}
