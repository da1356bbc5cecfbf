package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What every `main` (and the test session) shares: the local session,
  * the warm-up, the session-scoped indexes, the min-of-k timing and one
  * listener that records the jobs and stages each job group ran.
  *
  * Options, read here and nowhere else:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions
  *     (default: every available processor);
  *   - `SPARK_GRAFT_ONLY=q1,q2,…`: the entries a main runs (Bench,
  *     Verify, ScaleStress); unset means the main's full set.
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  lazy val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** `local[cpus]` with [[Tables.sessionDefaults]], `cpus` shuffle
    * partitions, no UI, and log level WARN: Verify's `[verify]
    * begin/end` lines attribute Spark's WARN lines (a BlockManager
    * "already exists", say) to the query that raised them.
    */
  def session(cpus: Int): SparkSession = {
    val spark = Tables.sessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time JVM costs, paid before anything is measured rather than by
    * whichever entry runs first: session and codegen start-up, the
    * tables' file metadata and schema memo under each of `dirs`, the
    * Breeze/LAPACK class init and JIT of the trend fit (~4 s), and the
    * codegen and JIT of the tokenize → shingle → distinct chain (~1.5 s,
    * measured via dedup_jaccard).
    */
  def warmUp(spark: SparkSession, dirs: String*): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (dir <- dirs; name <- Tables.names) Tables(spark, dir, name).count()
    graft.ts.TrendFit.fitSeries(
      (0 until 30).map(_.toDouble).toArray,
      (0 until 30).map(i => math.sin(i.toDouble)).toArray)
    import org.apache.spark.sql.functions.array_distinct
    import spark.implicits._
    (1 to 512).map(i => s"warm up the shingle kernel number $i of many")
      .toDF("text")
      .select(array_distinct(graft.functions.TextFunctions.shingles($"text")))
      .write.format("noop").mode("overwrite").save()
  }

  /** Builds the session-scoped indexes over `dir` (the KG, the reference's
    * ES index, and the co-supply graph shared by the graph_* queries),
    * each under a job group of its own name, and returns the keep-set
    * for [[Caches.sweep]]. Both builds are eager local checkpoints, so
    * the snapshot taken after them holds their blocks; queries then
    * measure query-plane work, not an index build. `each` wraps each
    * build (Bench and ScaleStress time them as entries of their own).
    */
  def indexes(spark: SparkSession, dir: String,
      each: (String, () => Unit) => Unit = (_, build) => build()): Set[Int] = {
    val builds: Seq[(String, Query)] = Seq(
      "kg_build" -> graft.queries.KgPipeline.kg,
      "graph_build" -> graft.queries.Relational.graphBuild)
    builds.foreach { case (name, build) =>
      each(name, () => inGroup(spark, name)(build(spark, dir)))
    }
    Caches.persistentIds(spark)
  }

  /** Min over `k` runs of `fn(spark, dir)` written to the noop sink, in
    * seconds, with the job group of the kept run. The noop write
    * materializes every output column (a bare count() would let
    * Catalyst prune the expressions under measurement) without the
    * InternalRow → Row decode of a collect. Run `r` runs under job group
    * `s"$tag#$r"`. Afterwards, whether or not a run threw, everything
    * persisted outside `keep` is swept, so one entry's blocks never
    * tax the next.
    */
  def minOf(spark: SparkSession, dir: String, fn: Query, k: Int,
      keep: Set[Int], tag: String): (Double, String) =
    try (1 to k).map { r =>
      val group = s"$tag#$r"
      inGroup(spark, group)(
        (seconds(fn(spark, dir).write.format("noop").mode("overwrite").save()), group))
    }.minBy(_._1)
    finally Caches.sweep(spark, keep)

  /** Wall seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def inGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** `body`'s result and the number of Spark jobs it launched. Every
    * action inside `body` blocks until its job completes, so only the
    * listener-bus delivery is left when it returns: the count is read
    * after [[GroupListener.drain]], and only jobs carrying this call's
    * own group count, so a late event of an earlier call can never land
    * in this one.
    */
  def countJobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val group = "jobs-" + java.util.UUID.randomUUID().toString
    val l = listener(spark)
    val a = inGroup(spark, group)(body)
    l.drain()
    (a, l.take(group).jobs)
  }

  private var registered: Option[(SparkContext, GroupListener)] = None

  /** The session's one [[GroupListener]], registered on first use. */
  def listener(spark: SparkSession): GroupListener = synchronized {
    val sc = spark.sparkContext
    registered.filter(_._1 eq sc).map(_._2).getOrElse {
      val l = new GroupListener
      sc.addSparkListener(l)
      registered = Some(sc -> l)
      l
    }
  }

  /** A completed stage: wall ms from submission to completion, and its
    * call site (Spark's stage name: "localCheckpoint at RecSys.scala:106";
    * for a stage AQE submits from its own thread, the description of its
    * SQL execution).
    */
  final case class Stage(ms: Long, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, callsite: String)

  /** What one job group ran: its jobs, its completed stages (a stage a
    * job skips because an earlier job computed it is not counted) and
    * their tasks, shuffle bytes and spill, plus the `Slowest` slowest
    * stages.
    */
  final case class Exec(jobs: Int, stages: Int, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, slowest: Seq[Stage]) {
    def add(s: Stage): Exec = Exec(jobs, stages + 1, tasks + s.tasks,
      shuffleRead + s.shuffleRead, shuffleWrite + s.shuffleWrite,
      spill + s.spill, (slowest :+ s).sortBy(-_.ms).take(Exec.Slowest))

    def json: String = {
      val top = slowest.map(s =>
        s"""{"ms":${s.ms},"tasks":${s.tasks},"shuffle_read":${s.shuffleRead},""" +
          s""""shuffle_write":${s.shuffleWrite},"spill":${s.spill},"callsite":${jsonString(s.callsite)}}""")
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"shuffle_read":$shuffleRead,""" +
        s""""shuffle_write":$shuffleWrite,"spill":$spill,"slowest":${top.mkString("[", ",", "]")}}"""
    }
  }
  object Exec {
    val Slowest = 10
    val empty: Exec = Exec(0, 0, 0, 0L, 0L, 0L, Nil)
  }

  /** Records, per job group, the jobs and completed stages run under it.
    * Jobs outside any group are ignored. A stage belongs to the group of
    * the first job that submitted it. A stage AQE submits from its pool
    * thread has that thread's frame as its call site; it is named by the
    * description of the SQL execution it ran in instead.
    */
  final class GroupListener extends SparkListener {
    private val groups = mutable.Map[String, Exec]()
    private val stageGroup = mutable.Map[Int, (String, Option[Long])]()
    private val executions = mutable.Map[Long, String]()
    private var events = 0L

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val props = Option(js.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        events += 1
        val e = groups.getOrElse(g, Exec.empty)
        groups(g) = e.copy(jobs = e.jobs + 1)
        val execution = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
        js.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = (g, execution))
      }
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => synchronized(executions(e.executionId) = e.description)
      case e: SparkListenerSQLExecutionEnd => synchronized(executions.remove(e.executionId))
      case _ => ()
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val i = sc.stageInfo
      stageGroup.remove(i.stageId).foreach { case (g, execution) =>
        events += 1
        val m = i.taskMetrics
        val ms = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
        val pooled = i.name.contains("withThreadLocalCaptured") || i.name.contains("CompletableFuture")
        val name = execution.filter(_ => pooled).flatMap(executions.get).getOrElse(i.name)
        groups(g) = groups.getOrElse(g, Exec.empty).add(Stage(ms, i.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, name))
      }
    }

    /** Waits until the recorded events hold still across 5 consecutive
      * 40 ms polls: once the actions have returned the bus is idle, so
      * 200 ms of silence bounds its delivery lag.
      */
    def drain(): Unit = {
      var stable = 0
      var last = synchronized(events)
      while (stable < 5) {
        Thread.sleep(40)
        val cur = synchronized(events)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
    }

    /** Removes and returns `group`'s record (empty if it ran nothing). */
    def take(group: String): Exec = synchronized(groups.remove(group)).getOrElse(Exec.empty)
  }

  /** A JSON string literal: quote, backslash and every control char escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
