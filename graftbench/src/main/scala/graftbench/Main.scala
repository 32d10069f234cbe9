package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side, driven by `run.py`: one measuring process.
  *
  *   <workload> <inputsDir> <seconds> <trace 0|1> <out.json>
  *     [dump=<dir>] [expect=<fingerprints.tsv>] [spans=<file>]
  *
  * It builds the session, runs every workload query once cold (the
  * set-up), then timed passes for `seconds`, then an untimed pass that
  * fingerprints each result (and dumps it for the oracle with `dump=`).
  * A traced run also writes its spans.
  */
object Main {
  def main(args: Array[String]): Unit = new Worker(args).run()

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}

final class Worker(args: Array[String]) {
  private val Array(workload, dir, secondsArg, traceArg, out) = args.take(5)
  private val opts = args.drop(5).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val seconds = secondsArg.toDouble
  private val traced = traceArg == "1"
  private val queries = Workloads.queries(workload)
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val classes = ManagementFactory.getClassLoadingMXBean

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]

  private var spark: SparkSession = _
  private val storage = new StorageListener
  private val trace = new TraceListener(Main.cpus)

  def run(): Unit = {
    val t0 = System.nanoTime()
    spark = graft.GraftSession.local(Main.cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    sc.addSparkListener(storage)
    try {
      // set-up: every query once, cold, in pass order
      val cold = pass(0, withTrace = false)
      val setupS = (System.nanoTime() - t0) / 1e9

      // timed passes; the traced run interleaves untraced and traced
      // passes (U T T U U T ...), at least four, so both read the same
      // JVM, a steady drift in it cancels, and the overhead is measured
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      var spent = 0.0
      while (spent < seconds || (traced && passes.size < 4)) {
        val withTrace = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
        val p = pass(passes.size + 1, withTrace)
        spent += p("wall_s").asInstanceOf[Double]
        passes += p
      }

      val fingerprints = verifyPass()
      if (traced) writeSpans()
      Files.writeString(Paths.get(out), Main.json.writeValueAsString(Map(
        "workload" -> workload, "session_s" -> sessionS, "setup_s" -> setupS,
        "cold_queries" -> cold("queries"),
        "passes" -> passes.toSeq, "attempted" -> attempted, "failed" -> failed,
        "errors" -> errors.toSeq, "fingerprints" -> fingerprints)))
    } finally spark.stop()
  }

  /** Every pass starts from the same state: no memoized tables, no
    * persisted RDDs, a collected heap and an empty listener bus. */
  private def cleanSlate(): Unit = {
    graft.ops.Text.clearMemoCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    GraftbenchBus.drain(spark.sparkContext)
    storage.reset()
  }

  private def pass(index: Int, withTrace: Boolean): Map[String, Any] = {
    cleanSlate()
    val sc = spark.sparkContext
    val layers = new Layers
    if (withTrace) {
      trace.layers = layers
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val passSpan = if (withTrace) trace.open(0, "pass", s"pass $index") else null
    val perQuery = mutable.LinkedHashMap.empty[String, Double]
    val cpu0 = cpu.getProcessCpuTime
    val jit0 = jit.getTotalCompilationTime
    val cls0 = classes.getTotalLoadedClassCount
    val t0 = System.nanoTime()
    queries.foreach { name =>
      storage.query = name
      val group = s"$workload/p$index/$name"
      sc.setJobGroup(group, name)
      val q0 = System.nanoTime()
      if (withTrace) tracedQuery(passSpan, group, name, layers)
      else attempt(index, name)(noop(build(name)))
      perQuery(name) = (System.nanoTime() - q0) / 1e9
      sc.clearJobGroup()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val loaded = classes.getTotalLoadedClassCount - cls0
    layers.add("jvm.jit_s", jitS)
    layers.add("jvm.classes_loaded", loaded)
    GraftbenchBus.drain(sc)
    if (withTrace) {
      passSpan.end = System.currentTimeMillis()
      sc.removeSparkListener(trace)
      spark.listenerManager.unregister(trace)
      storage.synchronized {
        layers.add("memo.rdds", storage.rdds.size)
        layers.add("memo.mb", storage.rdds.values.map(_._1).sum / 1e6)
        passSpan.attrs("memo_builds") =
          storage.rdds.toSeq.sortBy(_._1).map { case (id, (b, q)) =>
            Map("rdd" -> id, "bytes" -> b, "query" -> q)
          }
      }
    }
    Map("index" -> index, "traced" -> withTrace, "wall_s" -> wall, "cpu_s" -> cpuS,
      "storage_peak_mb" -> storage.peak / 1e6, "queries" -> perQuery.toMap,
      "modules" -> perQuery.groupMapReduce(kv => Workloads.module(kv._1))(_._2)(_ + _),
      "layers" -> layers.n.toMap)
  }

  private def build(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The query as the traced run sees it: a build span (the query
    * function, including eager `Ckpt.matNow` jobs) and an execute span
    * (the noop write), with the bus drained between them. */
  private def tracedQuery(passSpan: Span, group: String, name: String, layers: Layers): Unit = {
    val sc = spark.sparkContext
    val q = trace.open(passSpan.id, "query", name)
    q.attrs("job_group") = group
    val ok = attempt(-1, name) {
      val b = trace.open(q.id, "build", name)
      trace.current = b
      val t0 = System.nanoTime()
      val df = try build(name) finally {
        layers.add("plan.build_s", (System.nanoTime() - t0) / 1e9)
        GraftbenchBus.drain(sc)
        b.end = System.currentTimeMillis()
      }
      val x = trace.open(q.id, "execute", name)
      trace.current = x
      try noop(df) finally {
        GraftbenchBus.drain(sc)
        x.end = System.currentTimeMillis()
      }
    }.isDefined
    q.end = System.currentTimeMillis()
    q.attrs("ok") = ok
    trace.current = null
    layers.add("ops.attempted", 1)
    layers.add("ops.failed", if (ok) 0 else 1)
  }

  /** Runs one query execution; an exception that is not fatal counts
    * as a failure and is logged with the query and its class. */
  private def attempt[T](index: Int, name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"$name: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")
          .linesIterator.take(1).mkString}"
        errors += msg
        System.err.println(s"[graftbench] pass $index failed $msg")
        None
    }
  }

  /** Untimed pass: the row count and an order-insensitive hash of each
    * result. With `dump=`, each result is first written Verify-style
    * and the fingerprint is taken from what was written, so it is the
    * fingerprint of the result the oracle checks. With `expect=`, each
    * fingerprint is compared with the verified one. */
  private def verifyPass(): Map[String, String] = {
    cleanSlate()
    val expect: Map[String, String] = opts.get("expect").map { f =>
      scala.io.Source.fromFile(f).getLines().map(_.split("\t", 2))
        .map(a => a(0) -> a(1)).toMap
    }.getOrElse(Map.empty)
    val got = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { name =>
      attempt(-1, name) {
        val df = build(name)
        val fp = opts.get("dump") match {
          case Some(d) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
            fingerprint(spark.read.parquet(s"$d/$name"))
          case None => fingerprint(df)
        }
        got(name) = fp
        expect.get(name).filter(_ != fp).foreach { want =>
          throw new IllegalStateException(s"result fingerprint $fp, verified $want")
        }
      }
    }
    opts.get("dump").foreach { d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), graft.Verify.oracleJson)
    }
    got.toMap
  }

  private def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)} ${Option(r.get(1)).getOrElse(0)}"
  }

  private def writeSpans(): Unit = opts.get("spans").foreach { f =>
    val spans = trace.spans.toSeq.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs
    }
    Files.writeString(Paths.get(f), Main.json.writeValueAsString(spans))
  }
}
