package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Where a declared query's wall time goes. Each named query runs once
  * untimed (codegen/scan warmup, fixture builds) and once timed; one
  * [[SparkListener]] and one [[StreamingQueryListener]] record the timed run.
  * Per query the output carries:
  *
  *  - `wall_sec`, and every Spark job the run submitted (description,
  *    duration, task count);
  *  - the Spark driver's share: `driver_residual_sec` (wall − Σ job time)
  *    and the gaps > 100 ms between consecutive jobs, which is where
  *    filesystem choreography (renames, listings, manifest I/O) and
  *    planning live;
  *  - for streaming queries, each trigger's `durationMs` parts — `addBatch`
  *    (plan work; the whole body of a `foreachBatch`), `walCommit` +
  *    `commitOffsets` (offset/commit log), `latestOffset` + `getBatch`
  *    (source admission), `queryPlanning` — plus state-store commit time
  *    (`stateOperators[].commitTimeMs`). `startup_residual_sec` (wall − Σ
  *    triggerExecution) is query start/stop overhead no per-trigger plan
  *    change can remove;
  *  - `plan`: the query's `explain("formatted")` text.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> <q1,q2,...|all> [outJson]`
  * (`SPARK_GRAFT_CPUS` cores, default 32). Prints one `PROFILE {...}` line
  * and, when `outJson` is given, writes the same JSON there.
  */
object Profile {

  private final case class Job(id: Int, desc: String, start: Long, tasks: Int) {
    @volatile var end: Long = 0L
    def sec: Double = math.max(0L, end - start) / 1e3
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def str(s: String): String = mapper.writeValueAsString(s)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <q1,q2,...|all> [outJson]")
    val sfDir = args(0)
    val spark = graft.Session.start(defaultCpus = 32)
    val wanted = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = graft.SparkEntry.queries
    val names = if (wanted == Seq("all")) queries.keys.toSeq.sorted else wanted
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // Listener callbacks are asynchronous: only the timed run records, and
    // the buffers are read after a drain sleep.
    val recording = new AtomicBoolean(false)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording.get) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, e.time, e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (recording.get) progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def profile(name: String): String = {
      val fn = queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      Thread.sleep(500)
      jobs.clear(); progress.clear(); System.gc()
      recording.set(true)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000)
      recording.set(false)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))

      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val jobSum = js.map(_.sec).sum
      val jobLines = js.map(j =>
        s"""{"job":${j.id},"sec":${j.sec},"tasks":${j.tasks},"desc":${str(j.desc.take(140))}}""")
      val gaps = js.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 100 =>
          s"""{"after_job":${a.id},"gap_sec":${(b.start - a.end) / 1e3}}"""
      }.toSeq

      val ps = progress.asScala.toSeq.sortBy(p => (p.id.toString, p.batchId))
      def d(p: StreamingQueryProgress, k: String): Long =
        Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      def stateMs(p: StreamingQueryProgress): Long = p.stateOperators.map(_.commitTimeMs).sum
      def sum(f: StreamingQueryProgress => Long): Double = ps.map(f).sum / 1e3
      val parts = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
        "latestOffset", "getBatch", "queryPlanning")
      val batches = ps.map { p =>
        (s""""batch":${p.batchId}""" +: s""""rows":${p.numInputRows}""" +:
          parts.map(k => s""""$k":${d(p, k)}""") :+ s""""stateCommitMs":${stateMs(p)}""")
          .mkString("{", ",", "}")
      }
      val trigSum = sum(d(_, "triggerExecution"))

      s"""${str(name)}:{"wall_sec":$wall,"n_jobs":${js.size},"job_sum_sec":$jobSum,""" +
        s""""driver_residual_sec":${wall - jobSum},"jobs":[${jobLines.mkString(",")}],""" +
        s""""gaps":[${gaps.mkString(",")}],"n_triggers":${ps.size},""" +
        s""""trigger_exec_sec":$trigSum,"add_batch_sec":${sum(d(_, "addBatch"))},""" +
        s""""offset_commit_log_sec":${sum(p => d(p, "walCommit") + d(p, "commitOffsets"))},""" +
        s""""source_admission_sec":${sum(p => d(p, "latestOffset") + d(p, "getBatch"))},""" +
        s""""query_planning_sec":${sum(d(_, "queryPlanning"))},""" +
        s""""state_commit_sec":${sum(stateMs)},"startup_residual_sec":${wall - trigSum},""" +
        s""""batches":[${batches.mkString(",")}],"plan":${str(plan)}}"""
    }

    val cpus = spark.sparkContext.defaultParallelism
    val json = s"""{"metric":"profile","sf":${str(sfDir)},"cpus":$cpus,""" +
      s""""queries":{${names.map(profile).mkString(",")}}}"""
    println("PROFILE " + json)
    args.lift(2).foreach(out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n"))
    spark.stop()
  }
}
