package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Graft, SparkEntry, Tables}
import graft.capture.{CaptureDrainer, SparkCaptureListener}
import graft.sink.EventSink

/** The benchmark's JVM side. `run.py` generates the inputs, writes
  * `params.txt` into a work directory and starts this program on it; this
  * program sets graft up, runs one workload's timed pass, and writes raw
  * records (`calls.jsonl`, `spans.jsonl`, `result.json`, query outputs)
  * back into the work directory for `run.py` to check and summarize.
  *
  * It calls graft only through public functions. */
object Main {

  private var params: Map[String, String] = Map.empty
  private def p(k: String): String =
    params.getOrElse(k, sys.error(s"params.txt lacks $k"))

  private lazy val work = p("work")
  private lazy val cpus = p("cpus").toInt
  private val result = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val calls = new ConcurrentLinkedQueue[String]

  def now: Long = System.nanoTime()

  def main(args: Array[String]): Unit = {
    params = scala.io.Source.fromFile(args(0), "UTF-8").getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val traced = p("trace") == "1"
    p("workload") match {
      case "board_small" | "dedup_corpus" => board(traced)
      case "capture_live"                 => live(traced)
      case w                              => sys.error(s"unknown workload $w")
    }
    write("calls.jsonl", calls.asScala.mkString("", "\n", "\n"))
    write("spans.jsonl", Trace.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${js(s.name)},""" +
        s""""layer":"${s.layer}","call":${s.call},"t0":${s.t0},"t1":${s.t1}}"""
    }.mkString("", "\n", "\n"))
    write("result.json", result.map { case (k, v) => s"${js(k)}:$v" }
      .mkString("{", ",", "}\n"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ------------------------------------------------------------ recording

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def write(name: String, text: String): Unit = {
    Files.write(Paths.get(work, name), text.getBytes("UTF-8")); ()
  }

  /** `v` already rendered as JSON (a list). */
  private def putJson(k: String, v: String): Unit = result(k) = v

  private def put(k: String, v: Any): Unit = result(k) = v match {
    case s: String => js(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }

  /** One timed call's record: interval on the nanoTime clock, the split
    * into building the frame and materializing it, outcome, and the
    * persisted RDDs and cached bytes left behind after it. */
  private def callRecord(id: Int, name: String, layer: String, t0: Long,
                         t1: Long, buildNs: Long, err: Option[String],
                         rows: Long, sc: org.apache.spark.SparkContext,
                         extra: String = ""): Unit = {
    val residue = sc.getPersistentRDDs.size
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    calls.add(s"""{"id":$id,"name":${js(name)},"layer":"$layer","t0":$t0,""" +
      s""""t1":$t1,"build_ns":$buildNs,"ok":${err.isEmpty},""" +
      s""""error":${err.map(js).getOrElse("null")},"rows":$rows,""" +
      s""""residue_rdds":$residue,"cached_bytes":$cached$extra}""")
    ()
  }

  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption()
      .getOrElse(e.toString).take(300)

  // ---------------------------------------------------------------- set-up

  private val jvmStartNs =
    Trace.msToNs(ManagementFactory.getRuntimeMXBean.getStartTime)

  /** Set graft up `setup_reps` times and keep the last session. The first
    * set-up is timed from JVM start; later ones start after the previous
    * session is stopped. Each set-up is `Graft.session` plus `prepare`
    * (view registration, drainer install). */
  private def setup[T](prepare: SparkSession => T,
                       teardown: (SparkSession, T) => Unit): (SparkSession, T) = {
    val reps = p("setup_reps").toInt
    val times = ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 0 until reps) {
      val t0 = if (i == 0) jvmStartNs else now
      val s = Graft.session("graftbench", cpus)
      val x = prepare(s)
      times += (now - t0) / 1e9
      if (i < reps - 1) {
        teardown(s, x)
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else last = (s, x)
    }
    putJson("setup_times_s", times.mkString("[", ",", "]"))
    Trace.sc = last._1.sparkContext
    last
  }

  /** View registration: every input table of the workload as a temp view
    * (the parquet listing and footer reads of first touch). */
  private def registerViews(s: SparkSession, dir: String): Unit =
    new File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
      .foreach { f =>
        val t = f.stripSuffix(".parquet")
        Tables.load(s, dir, t).createOrReplaceTempView(t)
      }

  private def startProbes(s: SparkSession, traced: Boolean,
                          countGenerate: Boolean): Option[Probes] =
    if (!traced) None
    else {
      val pr = new Probes(countGenerate)
      pr.register(s)
      Some(pr)
    }

  private val jit = ManagementFactory.getCompilationMXBean
  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** The pass's JVM deltas and, after the bus settles, the listener
    * counters; then heap in use after a full GC. */
  private def finish(s: SparkSession, probes: Option[Probes],
                     jvm0: (Long, Long, Long)): Unit = {
    val (jit0, gcMs0, gcN0) = jvm0
    val (gcMs1, gcN1) = gcTotals
    put("jvm.jit_ms", jit.getTotalCompilationTime - jit0)
    put("jvm.gc_ms", gcMs1 - gcMs0)
    put("jvm.gc_count", gcN1 - gcN0)
    val sc = s.sparkContext
    put("spark.residue_rdds", sc.getPersistentRDDs.size)
    put("spark.residue_bytes",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    probes.foreach { pr =>
      Thread.sleep(500) // let the listener buses deliver the pass's events
      pr.c.asScala.foreach { case (k, v) => put(k, v.get) }
      put("streaming.state_rows", pr.stateRows)
      put("streaming.state_stores", pr.stateStores)
    }
    System.gc(); Thread.sleep(100); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    put("heap_retained_mb", heap / (1024.0 * 1024.0))
  }

  private def jvmNow: (Long, Long, Long) = {
    val (ms, n) = gcTotals
    (jit.getTotalCompilationTime, ms, n)
  }

  // ------------------------------------------------- board_small / dedup

  /** The graft module a board query exercises. */
  private def layerOf(name: String): String =
    if (graft.ext.Dedup.queries.contains(name)) "ext"
    else if (name.startsWith("cap_stream")) "streaming"
    else if (name == "cap_pipeline") "capture"
    else if (name.startsWith("cap_")) "sink"
    else "assess"

  /** One pass over the listed `SparkEntry` queries, each run until its
    * result is on the driver. Nothing is unpersisted between queries. */
  private def board(traced: Boolean): Unit = {
    val names = scala.io.Source.fromFile(p("queries_file"), "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toVector
    val dir = p("tables")
    val (spark, _) = setup(s => registerViews(s, dir), (_: SparkSession, _: Unit) => ())
    val probes = startProbes(spark, traced, p("workload") == "dedup_corpus")
    val sc = spark.sparkContext
    val outs = ArrayBuffer.empty[(String, StructType, Array[Row])]
    val jvm0 = jvmNow
    Trace.on = traced
    val pass0 = now
    Trace.span("pass", "bench", 0L) {
      names.zipWithIndex.foreach { case (name, i) =>
        val layer = layerOf(name)
        val t0 = now
        var buildNs = 0L
        var rows = 0L
        val err = try {
          Trace.span(name, layer, i + 1L) {
            val df = Trace.span("build", layer)(SparkEntry.queries(name)(spark, dir))
            buildNs = now - t0
            val got = Trace.span("run", layer)(df.collect())
            rows = got.length
            outs += ((name, df.schema, got))
          }
          None
        } catch { case e: Throwable => Some(errText(e)) }
        callRecord(i + 1, name, layer, t0, now, buildNs, err, rows, sc)
      }
    }
    Trace.on = false
    put("pass_ns", now - pass0)
    finish(spark, probes, jvm0)
    // outputs for the DuckDB-twin checks, written after the timed pass
    val oracle = SparkEntry.oracleSql
    write("oracle.tsv", names.flatMap(n => oracle.get(n).map(q =>
      n + "\t" + q.replace("\\", "\\\\").replace("\n", "\\n")))
      .mkString("", "\n", "\n"))
    Files.createDirectories(Paths.get(work, "out"))
    outs.foreach { case (name, schema, rows) =>
      write(s"out/$name.jsonl", (schema.fieldNames.map(js).mkString("[", ",", "]") +: rows.map(_.json))
        .mkString("", "\n", "\n"))
    }
  }

  // ---------------------------------------------------------- capture_live

  final case class Stmt(idx: Int, offMs: Long, kind: String, fail: Boolean, sql: String)

  private def readStmts(path: String): Vector[Stmt] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", 5)
      Stmt(f(0).toInt, f(1).toLong, f(2), f(3) == "1", f(4))
    }.toVector

  private val insertLock = new Object

  /** One user statement: exactly one SQL execution, tagged through the
    * job description so its captured events can be found again. */
  private def execute(spark: SparkSession, phase: String, s: Stmt): Option[String] = {
    spark.sparkContext.setLocalProperty("spark.job.description", s"gb:$phase:${s.idx}")
    try {
      // inserts into the one table are serialized: concurrent appends to a
      // table path share the committer's _temporary directory
      if (s.kind == "insert") insertLock.synchronized(spark.sql(s.sql))
      else spark.sql(s.sql).collect()
      if (s.fail) Some("expected a failure") else None
    } catch {
      case e: Throwable => if (s.fail) None else Some(errText(e))
    } finally spark.sparkContext.setLocalProperty("spark.job.description", null)
  }

  /** Open loop: statements are released at their scheduled offsets from
    * `start` to `senders` threads; latency runs from the scheduled time. */
  private def openLoop(spark: SparkSession, phase: String, stmts: Seq[Stmt],
                       start: Long, senders: Int, record: Boolean): Seq[Double] = {
    val q = new LinkedBlockingQueue[Option[(Stmt, Long)]]
    val late = new ConcurrentLinkedQueue[java.lang.Double]
    val sc = spark.sparkContext
    val threads = (0 until senders).map { _ =>
      val t = new Thread(() => {
        var next = q.take()
        while (next.isDefined) {
          val (s, due) = next.get
          val err = Trace.span(s"stmt $phase ${s.idx}", "user", s.idx.toLong) {
            execute(spark, phase, s)
          }
          val t1 = now
          if (record) callRecord(s.idx, s"$phase:${s.kind}", "user", due, t1, 0L,
            err, 0L, sc, s""","phase":"$phase"""")
          next = q.take()
        }
      })
      t.start(); t
    }
    stmts.foreach { s =>
      val due = start + s.offMs * 1000000L
      val wait = due - now
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      late.add((now - due) / 1e6)
      q.put(Some((s, due)))
    }
    threads.foreach(_ => q.put(None))
    threads.foreach(_.join())
    late.asScala.map(_.doubleValue).toSeq
  }

  /** Wait, at most `boundMs`, until the hook has seen `events` lifecycle
    * callbacks. The listener bus delivers them asynchronously and
    * `CaptureDrainer.close()` drains only what has arrived, so closing right
    * after the last statement returns can miss that statement's events.
    * `seen` counts last, after admission, so once it reaches `events` a
    * drain cannot race them. After the bound the close goes ahead and any
    * missing event shows in the log read-back. */
  private def awaitSeen(l: SparkCaptureListener, events: Long,
                        boundMs: Long = 10000L): Unit =
    Trace.span("SparkCaptureListener.seen", "capture", 0L) {
      val deadline = now + boundMs * 1000000L
      while (l.seen < events && now < deadline) Thread.sleep(1)
    }

  /** Closed loop: `nproc` clients issue `stmts` in turn, back to back,
    * for `seconds`; returns the number of statements completed. */
  private def closedLoop(spark: SparkSession, phase: String, stmts: Seq[Stmt],
                         seconds: Double): Int = {
    val next = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    val deadline = now + (seconds * 1e9).toLong
    val clients = (0 until cpus).map { _ =>
      val t = new Thread(() => {
        while (now < deadline) {
          val i = next.getAndIncrement()
          execute(spark, phase, stmts(i % stmts.size).copy(idx = i))
          done.incrementAndGet()
        }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    done.get
  }

  private def live(traced: Boolean): Unit = {
    val tables = p("tables")
    val logDir = s"$work/capture_log"
    val batches = new ConcurrentLinkedQueue[String]
    val retries = new AtomicLong(0L)
    // the default sink (writeBatchWithRetry), with its public `sleep`
    // parameter counting retries and each batch's return time recorded
    def sinkFn(path: String): DataFrame => Unit = df => {
      Trace.span("EventSink.writeBatchWithRetry", "sink", 0L) {
        val t0 = System.currentTimeMillis()
        EventSink.writeBatchWithRetry(df, path,
          sleep = ms => { retries.incrementAndGet(); Thread.sleep(ms) })
        batches.add(s"[$t0,${System.currentTimeMillis()}]")
      }
      ()
    }
    def install(s: SparkSession): CaptureDrainer = {
      registerViews(s, tables)
      s.sql("CREATE TABLE gb_ins (k BIGINT, v DOUBLE, d STRING) USING parquet " +
        "PARTITIONED BY (d)")
      new CaptureDrainer(s, logDir, sink = Some(sinkFn(logDir)))
    }
    val (spark, drainer) = setup(install, (s: SparkSession, d: CaptureDrainer) => {
      d.close(); s.sql("DROP TABLE gb_ins"); ()
    })
    val probes = startProbes(spark, traced, countGenerate = false)
    val listener = drainer.listener
    val senders = p("senders").toInt
    val warm = readStmts(p("warm_file"))
    val steady = readStmts(p("steady_file"))
    val sat = readStmts(p("sat_file"))
    val issued = new AtomicLong(0L)

    var pendingMax = 0
    @volatile var sampling = traced
    val sampler = new Thread(() => {
      while (sampling) {
        pendingMax = math.max(pendingMax, listener.pending); Thread.sleep(5)
      }
    })
    if (traced) sampler.start()

    // warm-up, untimed: first a closed-loop burst that gets the JIT's
    // compiles of the statement path done, then the steady rate, because
    // the hook lives in a long session
    issued.addAndGet(closedLoop(spark, "burst", sat, p("burst_seconds").toDouble))
    openLoop(spark, "warm", warm, now, senders, record = false)
    issued.addAndGet(warm.size)

    val jvm0 = jvmNow
    Trace.on = traced
    val pass0 = now
    val late = Trace.span("pass", "bench", 0L) {
      val l = openLoop(spark, "steady", steady, pass0, senders, record = true)
      issued.addAndGet(steady.size)
      // every event of the phase durable: delivered to the hook, then the
      // drainer's closing flush
      awaitSeen(listener, 2 * issued.get)
      Trace.span("CaptureDrainer.close", "capture", 0L)(drainer.close())
      l
    }
    Trace.on = false
    put("pass_ns", now - pass0)
    putJson("gen_late_ms", late.mkString("[", ",", "]"))
    put("capture.dropped", listener.dropped)
    put("capture.build_failed", listener.buildFailed)
    put("capture.drain_batches", drainer.flushed)
    put("capture.write_failed", drainer.writeFailed)

    // saturation: nproc closed-loop clients back to back, then the flush
    val drainer2 = new CaptureDrainer(spark, logDir, sink = Some(sinkFn(logDir)))
    val s0 = now
    val done = closedLoop(spark, "sat", sat, p("sat_seconds").toDouble)
    awaitSeen(drainer2.listener, 2L * done)
    drainer2.close()
    val satElapsed = (now - s0) / 1e9
    issued.addAndGet(done)
    put("sat_done", done)
    put("sat_elapsed_s", satElapsed)
    put("capture.seen", listener.seen + drainer2.listener.seen)
    put("capture.dropped_sat", drainer2.listener.dropped)
    put("issued", issued.get)

    // hook off: the steady schedule's head again with no hook installed
    if (traced)
      openLoop(spark, "off", steady.take(p("overhead_stmts").toInt), now, senders,
        record = true)
    sampling = false
    if (traced) sampler.join()
    put("capture.pending_max", pendingMax)
    put("sink.retries", retries.get)
    putJson("batches", batches.asScala.mkString("[", ",", "]"))
    finish(spark, probes, jvm0)
  }
}
