package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{GraftQuery, Memos}

/** Closed-loop, one-client benchmark harness over the engine's catalog.
  *
  * One driver thread sets the engine up once (SparkSession build, view
  * registration, `warmups` untimed passes of the job mix), then issues
  * jobs back to back in seed-shuffled passes of the mix until `seconds` of
  * job time and at least `passes` passes have passed, finishing the pass
  * it is in. A job is a catalog entry's `fn(spark, dir)` call followed by
  * `collect()`, which evaluates every column of every row into the
  * complete result at the driver (`count()` would let Catalyst prune
  * computed columns). With `cold`, `Memos.release` runs before every job,
  * outside its time.
  *
  * Output checks run outside every timed span: each job's collected rows
  * are hashed after it is timed and must equal the hash of the entry's
  * first execution; first results of the entries with a DuckDB twin and of
  * the `keep` entries are written as parquet (`<out>/results`) for the
  * DuckDB and model-quality checks made by the caller.
  *
  * With `trace`, listeners record spans and counters for half the jobs of
  * each pass, each entry traced in every other pass; the other half run
  * untraced, so one run yields both latencies and the tracing overhead.
  *
  * Arguments are `key=value`: jobs (comma-separated catalog names), data,
  * out, work (scratch root), seed, seconds, passes (the fewest timed
  * passes), warmups (set-up passes), trace, cpus, cold, keep. Writes
  * `<out>/result.json` and, when tracing, `<out>/trace.json`. */
object Harness {

  final case class Exec(name: String, pass: Int, ok: Boolean, err: String,
      latencyS: Double, buildS: Double, execS: Double, cpuS: Double,
      rows: Long, memoBuilds: Int, trace: JobTrace)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    val mix = kv("jobs").split(',').toSeq.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"no catalog entry $n")))
    val dir = kv("data")
    val out = kv("out")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val tracing = kv("trace") == "1"
    val minPasses = kv("passes").toInt
    val warmups = kv("warmups").toInt
    val cpus = kv("cpus").toInt
    val cold = kv("cold") == "1"
    val oracles = mix.flatMap(q => q.oracle.map(q.name -> _)).toMap
    val keep = kv.getOrElse("keep", "").split(',').filter(_.nonEmpty).toSet ++ oracles.keySet
    val work = kv("work")
    val rng = new scala.util.Random(seed)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val firstHash = mutable.HashMap[String, String]()
    val written = mutable.HashSet[String]()
    val memoUsers = mutable.HashSet[String]()
    val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** Runs one job; returns its timings plus the seconds its checks took. */
    def runJob(spark: SparkSession, q: GraftQuery, pass: Int, seq: Int,
        tracer: Option[Tracer]): (Exec, Double) = {
      if (cold) Memos.release(spark)
      val sc = spark.sparkContext
      val persisted = sc.getPersistentRDDs.size
      val jt = tracer.map(_ => new JobTrace(seq, q.name))
      // The bus is drained before the job becomes current and again when
      // its action returns: neither earlier events nor this job's checks
      // are charged to it.
      tracer.foreach { t => PerfbenchBus.drain(sc); t.current = jt.get }
      val cpu0 = cpuBean.getProcessCpuTime
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val res = try {
        val df = q.fn(spark, dir)
        t1 = System.nanoTime()
        jt.foreach(_.buildEndMs = System.currentTimeMillis())
        Right((df, df.collect()))
      } catch { case e: Exception => Left(e) }
      val t2 = System.nanoTime()
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      jt.foreach { j => j.startMs = wall0; j.endMs = System.currentTimeMillis() }
      tracer.foreach { t => PerfbenchBus.drain(sc); t.current = null }
      val c0 = System.nanoTime()
      val memoBuilds = sc.getPersistentRDDs.size - persisted
      if (memoBuilds > 0) memoUsers += q.name
      val exec = res match {
        case Left(e) =>
          val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
          Exec(q.name, pass, ok = false, msg, (t2 - t0) / 1e9, (t1 - t0) / 1e9, 0, cpuS, 0,
            memoBuilds, jt.orNull)
        case Right((df, collected)) =>
          val (rows, hash) = try canonicalHash(collected) catch {
            case e: Exception => (-1L, "error: " + e.getMessage)
          }
          val first = firstHash.getOrElseUpdate(q.name, hash)
          if (keep(q.name) && written.add(q.name))
            df.write.mode("overwrite").parquet(s"$out/results/${q.name}")
          val ok = rows >= 0 && hash == first
          Exec(q.name, pass, ok, if (ok) "" else "result differs from first execution",
            (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpuS, rows, memoBuilds, jt.orNull)
      }
      (exec, (System.nanoTime() - c0) / 1e9)
    }

    /** One pass over the mix in seed-shuffled order. With a tracer, the
      * mix's even-indexed entries are traced in even passes and the odd
      * ones in odd passes, so over two passes every entry runs once traced
      * and once untraced. */
    def pass(spark: SparkSession, p: Int, seq0: Int, tracer: Option[Tracer]): (Seq[Exec], Double) = {
      var checkS = 0.0
      val execs = rng.shuffle(mix.zipWithIndex).zipWithIndex.map { case ((q, k), i) =>
        val (e, c) = runJob(spark, q, p, seq0 + i, tracer.filter(_ => (k + p) % 2 == 0))
        checkS += c
        e
      }
      (execs, checkS)
    }

    // Set-up: the JVM's first session, so JIT, class loading and codegen
    // are paid here, and `warmups` untimed passes of the mix; the first
    // gives every entry's first execution, the rest let the JIT compiler
    // settle before timing.
    val t0 = System.nanoTime()
    val spark = session()
    graft.sources.Tables.views(spark, dir)
    val setupPasses = (1 to warmups).map(w => pass(spark, -w, 0, None))
    val setupExecs = setupPasses.flatMap(_._1)
    val setupCheckS = setupPasses.map(_._2).sum
    val setupS = (System.nanoTime() - t0) / 1e9 - setupCheckS

    // Timed loop.
    val tracer = if (tracing) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      spark.streams.addListener(t.streams)
    }
    val timed = mutable.ArrayBuffer[Exec]()
    var jobS = 0.0
    var checkS = 0.0
    var p = 0
    // At least `passes` passes and eleven jobs, so a tail percentile
    // exists; traced runs make an even number of passes.
    while (p < minPasses || timed.size <= 10 || jobS < seconds || (tracing && p % 2 == 1)) {
      val (execs, c) = pass(spark, p, timed.size, tracer)
      checkS += c
      timed ++= execs
      jobS += execs.map(_.latencyS).sum
      p += 1
    }

    val sc = spark.sparkContext
    val storageB = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val storageCapB = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

    val result = Map(
      "setup_s" -> setupS,
      "setup_check_s" -> setupCheckS,
      "check_s" -> checkS,
      "storage_mb" -> storageB / 1e6,
      "storage_capacity_mb" -> storageCapB / 1e6,
      "rss_peak_mb" -> rssKb / 1024.0,
      "memo_users" -> memoUsers.toSeq.sorted,
      "oracle_sql" -> oracles,
      "setup_jobs" -> setupExecs.map(execJson),
      "jobs" -> timed.toSeq.map(execJson))
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "result.json"), json.writeValueAsBytes(result))
    if (tracing)
      Files.write(Paths.get(out, "trace.json"),
        json.writeValueAsBytes(timed.toSeq.filter(_.trace != null).map(e => spansJson(e.trace))))
    Memos.release(spark)
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def execJson(e: Exec): Map[String, Any] = {
    val m = Map[String, Any]("name" -> e.name, "pass" -> e.pass, "ok" -> e.ok, "err" -> e.err,
      "latency_s" -> e.latencyS, "build_s" -> e.buildS, "exec_s" -> e.execS,
      "cpu_s" -> e.cpuS, "rows" -> e.rows, "memo_builds" -> e.memoBuilds)
    val t = e.trace
    if (t == null) m else m + ("trace" -> Map(
      "spark_jobs" -> t.sparkJobs.size, "build_spark_jobs" -> t.buildSparkJobs,
      "tasks" -> t.tasks, "task_failures" -> t.taskFailures,
      "sched_wait_s" -> t.schedWaitMs / 1e3,
      "driver_self_s" -> math.max(0L, t.endMs - t.startMs - t.sparkUnionMs) / 1e3,
      "task_busy_s" -> t.taskBusyMs / 1e3, "task_cpu_s" -> t.taskCpuNs / 1e9,
      "gc_s" -> t.gcMs / 1e3, "stage_skew" -> t.stageSkew,
      "shuffle_write_b" -> t.shuffleWriteB, "shuffle_read_b" -> t.shuffleReadB,
      "spill_b" -> t.spillB, "input_b" -> t.inputB, "input_rows" -> t.inputRows,
      "output_b" -> t.outputB, "write_task_s" -> t.writeTaskMs / 1e3,
      "plan_s" -> t.planMs / 1e3, "optimize_s" -> t.optimizeMs / 1e3,
      "exchanges" -> t.exchanges, "nested_loop_joins" -> t.nestedLoopJoins,
      "batches" -> t.batches, "batch_s" -> t.batchMs / 1e3, "commit_s" -> t.commitMs / 1e3,
      "state_partitions" -> t.statePartitions, "state_rows" -> t.stateRows,
      "state_b" -> t.stateB, "stream_rows" -> t.streamRows))
  }

  /** The job's span tree: job → build / execute → Spark jobs → stages. */
  private def spansJson(t: JobTrace): Map[String, Any] = {
    def span(name: String, start: Long, end: Long, children: Seq[Any]) =
      Map("name" -> name, "start_ms" -> start, "end_ms" -> end, "children" -> children)
    def sparkSpans(js: Seq[(Int, Array[Long])]) = js.map { case (id, iv) =>
      span(s"spark_job $id", iv(0), iv(1), t.stages.values.filter(_.sparkJob == id).toSeq
        .map(st => span(s"stage ${st.id}", st.submitMs, st.endMs, Nil)))
    }
    val (inBuild, inExec) = t.sparkJobs.toSeq.partition(_._2(0) < t.buildEndMs)
    Map("job" -> t.seq, "name" -> t.name, "spans" -> Seq(
      span("build", t.startMs, t.buildEndMs, sparkSpans(inBuild)),
      span("execute", t.buildEndMs, t.endMs, sparkSpans(inExec))))
  }

  /** Row count and an order-insensitive hash of every rendered row.
    * Doubles render with nine significant digits, so a repeat whose float
    * sums merged in another order still hashes the same. */
  private def canonicalHash(collected: Array[Row]): (Long, String) = {
    val rows = collected.map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case v: org.apache.spark.ml.linalg.Vector => render(v.toArray.toSeq)
    case other => other.toString
  }
}
