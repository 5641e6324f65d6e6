package graft.operators

import graft.SparkSpec

/** The round combinator (freeing, ownership, observed stop, job cost)
  * and the r14 minimum-parallelism helper: `spread` fires only below the
  * session default, is an identity above it (the production no-op
  * branch), and never changes row content. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  private def isPersisted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.forall(spark.sparkContext.getPersistentRDDs.contains)

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so the end of a marker job run after
    * `body` means every earlier job start has been seen. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val key = "graft.spec.marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.atomic.AtomicInteger(-1)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) != null)
          marker.set(e.jobId)
        else started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker.get) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(key, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** One shuffle round over (k, x): x shrinks toward its floor 0, so
    * the table is a fixpoint once every x is 0. */
  private def shrink(df: DataFrame, r: Int): DataFrame =
    df.groupBy(col("k"))
      .agg(max(greatest(col("x") - 1, lit(0L))).as("x"))
      .select(col("k"), col("x"))

  private def table(n: Int, x: Long): DataFrame =
    (0L until n).map(k => (k, x)).toDF("k", "x")

  test("rounds frees every superseded round: persisted RDDs stay bounded") {
    cleanup()
    val base = persisted
    val init = table(50, 20L).localCheckpoint()
    val (last, stopped) = Checkpoints.rounds(init, 8, ownsInit = true)(shrink)
    assert(!stopped)
    // only the returned round remains: the owned init and the seven
    // rounds before the last were freed as their successors landed
    assert(persisted - base == 1, s"leaked ${persisted - base - 1} rounds")
    assert(last.as[(Long, Long)].collect().forall(_._2 == 12L))
    cleanup()
  }

  test("rounds never frees a caller-kept init, even a projection over " +
      "another checkpoint") {
    cleanup()
    val cands = table(10, 5L).withColumn("y", col("x")).localCheckpoint()
    val init = cands.select(col("k"), col("x")) // the Unigram EM seed shape
    val (last, _) = Checkpoints.rounds(init, 3, ownsInit = false)(shrink)
    assert(isPersisted(cands), "the caller's table behind init was freed")
    assert(cands.count() == 10 && last.count() == 10)
    // handing init over does free it
    val owned = table(10, 5L).localCheckpoint()
    Checkpoints.rounds(owned, 1, ownsInit = true)(shrink)
    assert(!isPersisted(owned))
    cleanup()
  }

  test("an observed stop rides the checkpoint jobs: no extra job per round") {
    val init = table(40, 100L).localCheckpoint()
    // the stop never fires within 4 rounds, so both runs do 4 rounds
    val ((_, plain), plainJobs) = jobsDuring(
      Checkpoints.rounds(init, 4, ownsInit = false)(shrink))
    val ((_, obs), obsJobs) = jobsDuring(
      Checkpoints.rounds(init, 4, ownsInit = false,
        stop = Some(count_if(col("x") > 0) === 0))(shrink))
    assert(!plain && !obs)
    assert(plainJobs >= 4)
    assert(obsJobs == plainJobs, s"observed $obsJobs jobs vs $plainJobs")
    cleanup()
  }

  test("a Boolean stop fires on the round where it reads true; any other " +
      "metric stops when it repeats") {
    val init = table(30, 3L).localCheckpoint()
    var built = 0
    val (last, stopped) = Checkpoints.rounds(init, 10, ownsInit = false,
        stop = Some(count_if(col("x") > 0) === 0)) { (df, r) =>
      built = r
      shrink(df, r)
    }
    assert(stopped && built == 3)
    assert(last.as[(Long, Long)].collect().forall(_._2 == 0L))
    // fixpoint mode: the round count is observed; it only shrinks, and
    // the first repeat is the round after the table stopped changing
    val (core, fixed) = Checkpoints.rounds(table(30, 0L).localCheckpoint(),
        10, ownsInit = true, stop = Some(count(lit(1)))) { (df, r) =>
      built = r
      df.filter(col("k") >= r)
        .filter(col("k") < 4 || col("k") >= 25)
    }
    assert(fixed && built == 5, s"built $built rounds")
    assert(core.as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      (25L until 30L))
    cleanup()
  }

  test("an all-empty round stops on a count condition and never hangs " +
      "or throws on a null sum") {
    val empty = table(0, 0L).localCheckpoint()
    val (_, stopped) = Checkpoints.rounds(empty, 5, ownsInit = false,
      stop = Some(count_if(col("x") > 0) === 0))(shrink)
    assert(stopped)
    // sum over no rows is null: never a stop, never an NPE — the rounds
    // simply run to their budget
    var built = 0
    val (out, nullStop) = Checkpoints.rounds(empty, 3, ownsInit = false,
        stop = Some(sum(col("x")) === 0)) { (df, r) =>
      built = r
      shrink(df, r)
    }
    assert(!nullStop && built == 3 && out.count() == 0)
    cleanup()
  }

  test("spread raises an under-parallel frame to the session default") {
    val one = (1 to 100).toDF("x").coalesce(1)
    assert(one.queryExecution.toRdd.getNumPartitions == 1)
    val s = Checkpoints.spread(one)
    assert(s.queryExecution.toRdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    assert(s.as[Int].collect().sorted.toSeq == (1 to 100))
  }

  test("spread is an identity when the frame already meets the default " +
      "(the production many-splits branch never pays a shuffle)") {
    val target = spark.sparkContext.defaultParallelism
    val wide = (1 to 100).toDF("x").repartition(target + 2)
    val s = Checkpoints.spread(wide)
    // identity: no extra exchange on top — same frame back
    assert(s eq wide)
  }
}
