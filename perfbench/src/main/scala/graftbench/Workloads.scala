package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.pipeline.{EtlJob, TweetPipeline}
import graft.streaming.StreamingEtl
import graft.zones.Zones

/** A workload runs passes of ops; `check` runs after each timed pass and
  * records its own ops. Ops carry results only: run.py compares them with
  * the generator's expectations or the pinned digests. */
trait Workload {
  def name: String
  def pass(ctx: Ctx): Unit
  def check(ctx: Ctx): Unit = ()
}

object Workload {
  def apply(name: String, plan: JsonNode): Workload = name match {
    case "tweet_batch" => new TweetBatch(plan)
    case "tweet_stream" => new TweetStream(plan)
    case "iterative" => new Queries(name, plan)
    case other => sys.error(s"unknown workload $other")
  }

  /** Top-hashtag dashboard read: the paper's dashboard tile, served
    * from the analytical zone. */
  def dashboard(spark: SparkSession, analytical: String): Seq[String] =
    TweetPipeline.topTags(
      Zones.readAnalytical(spark, analytical).withColumnRenamed("hashtag", "tag"), 10)
      .collect().toSeq.map(r => s"${r.getString(0)}:${r.getLong(1)}")
}

/** The paper's daily cycle: land one CSV day, run the idempotent
  * landing → staging → analytical → audit job, read the dashboard. */
final class TweetBatch(plan: JsonNode) extends Workload {
  val name = "tweet_batch"

  private def parts(date: String): (Int, Int, Int) = {
    val d = java.time.LocalDate.parse(date)
    (d.getYear, d.getMonthValue, d.getDayOfMonth)
  }

  private def runDay(ctx: Ctx, date: String): EtlJob.RunResult = {
    val (y, m, d) = parts(date)
    ctx.spans("EtlJob.run", "pipeline") {
      EtlJob.run(ctx.spark, s"${ctx.dir}/landing", s"${ctx.dir}/staging",
        s"${ctx.dir}/analytical", s"${ctx.dir}/log", y, m, d, s"$date 23:59:00",
        idempotent = true)
    }
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.input(plan, "dir").asText
    ctx.input(plan, "days").elements().asScala.map(_.asText).zipWithIndex.foreach {
      case (date, i) =>
        val id = f"day$i%02d"
        ctx.spans.currentOp = id
        ctx.ops.time(id, "day", ctx.pass) {
          val (y, m, d) = parts(date)
          // the consumer's landing drop: one header-less CSV per day
          ctx.spans("landing_write", "zones") {
            val dest = Paths.get(f"${ctx.dir}/landing/$y%04d/$m%02d/$d%02d")
            Files.createDirectories(dest)
            Files.copy(Paths.get(s"$in/$date.csv"), dest.resolve("part-00000.csv"),
              StandardCopyOption.REPLACE_EXISTING)
          }
          val r = runDay(ctx, date)
          val top = ctx.spans("dashboard", "pipeline") {
            Workload.dashboard(spark, s"${ctx.dir}/analytical")
          }
          Map("date" -> date, "staged" -> r.stagingLog.recordsInserted,
            "inserted" -> r.analyticalLog.map(_.recordsInserted).getOrElse(0L),
            "top" -> top)
        }
    }
    ctx.spans.currentOp = ""
  }

  override def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rerun = plan.path("main").path("rerun").asText
    ctx.ops.time("rerun", "check", ctx.pass) {
      val r = runDay(ctx, rerun)
      Map("date" -> rerun, "inserted" -> r.analyticalLog.map(_.recordsInserted).getOrElse(-1L))
    }
    ctx.ops.time("audit", "check", ctx.pass) {
      val log = Zones.readLog(spark, s"${ctx.dir}/log")
      val byTable = log.groupBy("table_name")
        .agg(count(lit(1)).as("n"), sum("records_inserted").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (logRows, logInserted) = byTable.getOrElse("analytical.hashtag_data", (0L, 0L))
      Map("log_rows" -> (logRows + byTable.get("staging.hashtags_proc").map(_._1).getOrElse(0L)),
        "log_analytical_inserted" -> logInserted,
        "analytical_rows" -> Zones.readAnalytical(spark, s"${ctx.dir}/analytical").count())
    }
  }
}

/** The same tweets as raw JSON files drained through the streaming ETL:
  * one file per micro-batch, AvailableNow over a backlog. */
final class TweetStream(plan: JsonNode) extends Workload {
  val name = "tweet_stream"
  private val raw = StructType(Seq(StructField("record_id", StringType),
    StructField("ts", StringType), StructField("payload", StringType)))

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.input(plan, "dir").asText
    val source = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", plan.path("files_per_trigger").asInt(1))
      .json(in)
      .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss"))
    val t0 = Clock.nowMs
    val q = ctx.spans("StreamingEtl.run", "streaming") {
      val q = StreamingEtl.run(spark, source, s"${ctx.dir}/analytical", s"${ctx.dir}/log",
        s"${ctx.dir}/checkpoint")
      q.awaitTermination()
      q
    }
    val t1 = Clock.nowMs
    val error = q.exception.map(e => s"StreamingQueryException: ${e.getMessage}".take(2000))
    ctx.rec.foreach { rec =>
      BusDrain(spark.sparkContext)
      val mine = rec.synchronized(rec.progress.filter(_.pass == s"p${ctx.pass}").toList)
      mine.zipWithIndex.foreach { case (p, i) =>
        ctx.ops.all += Op(f"batch$i%02d", "batch", ctx.pass, p.t0,
          p.t0 + p.durations.getOrElse("triggerExecution", 0.0), error,
          Map("rows" -> p.rows))
      }
      if (mine.isEmpty)
        ctx.ops.all += Op("drain", "batch", ctx.pass, t0, t1, error.orElse(Some("no batches")),
          Map.empty)
    }
  }

  override def check(ctx: Ctx): Unit =
    ctx.ops.time("final_count", "check", ctx.pass) {
      Map("analytical_rows" -> Zones.readAnalytical(ctx.spark, s"${ctx.dir}/analytical").count())
    }
}

/** Named SparkEntry queries, each timed as construction (where eager
  * checkpoints run) plus one materialization of the final plan. The
  * materializing job also computes the row count and an order-insensitive
  * digest of the rows, so the check adds no job. */
final class Queries(val name: String, plan: JsonNode) extends Workload {
  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.input(plan, "fixture").asText
    val sc = spark.sparkContext
    // tables each query reads, from its oracle SQL: the input-row count
    // behind rows_per_s
    val oracle = SparkEntry.oracleSql
    def tables(q: String): Seq[String] = graft.Tables.names.filter { t =>
      s"\\b$t\\b".r.findFirstIn(oracle.getOrElse(q, "")).isDefined
    }
    ctx.input(plan, "queries").elements().asScala.map(_.asText).foreach { q =>
      Main.clean(spark)
      ctx.spans.currentOp = q
      ctx.ops.time(q, "query", ctx.pass) {
        Tags.set(sc, Tags.Phase, "construct")
        val df = ctx.spans("construct", "sparkentry") { SparkEntry.queries(q)(spark, dir) }
        Tags.set(sc, Tags.Phase, "execute")
        val (rows, digest) = try ctx.spans("materialize", "exec") {
          Queries.digest(df.queryExecution.toRdd, df.schema)
        } finally Tags.set(sc, Tags.Phase, null)
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        Map("rows" -> rows, "digest" -> digest, "phases_ms" -> phases, "tables" -> tables(q))
      }
    }
    ctx.spans.currentOp = ""
  }
}

object Queries {
  /** Row count and a digest that does not depend on row order or
    * partitioning: per-row XXH64 over the row's UnsafeRow bytes, summed
    * and xor-ed. One job, like the `toRdd.count()` graft.Bench times. */
  def digest(rdd: RDD[InternalRow], schema: StructType): (Long, String) = {
    val types: Array[DataType] = schema.fields.map(_.dataType)
    val (n, s, x) = rdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(types)
      var n = 0L
      var s = 0L
      var x = 0L
      it.foreach { row =>
        val u = proj(row)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
        s += h
        x ^= h
      }
      Iterator((n, s, x))
    }.fold((0L, 0L, 0L)) { case ((n1, s1, x1), (n2, s2, x2)) => (n1 + n2, s1 + s2, x1 ^ x2) }
    (n, f"$s%016x$x%016x")
  }
}
