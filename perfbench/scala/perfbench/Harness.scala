package perfbench

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** Just enough JSON output for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Order-independent multiset digest of strings: the wrapping sum of the
  * first eight bytes of each string's SHA-1 (the generator derives the same
  * sum independently). */
object Digest {
  def h64(s: String): Long = ByteBuffer.wrap(
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8)), 0, 8).getLong

  def of(xs: Iterable[String]): String =
    java.lang.Long.toUnsignedString(xs.foldLeft(0L)(_ + h64(_)))
}

/** In-memory spans around the harness's calls into each program layer.
  * With tracing off `apply` only runs the body. */
final class Tracer(val enabled: Boolean, runId: String) {
  private case class Span(name: String, start: Long, end: Long, id: Int,
      parent: Int)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(-1)
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(name, t0, System.nanoTime(), id, parent)
      }
    }

  def write(path: Path): Unit = Files.write(path, spans.map { s =>
    Json(Map("run" -> runId, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "id" -> s.id, "parent" -> s.parent))
  }.asJava)
}

object Tracer {
  val off = new Tracer(false, "")
}

/** Engine counters from Spark's public listener events. */
final class EngineCounters extends SparkListener {
  private val c = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_gc_ms")
    .map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_ms").addAndGet(m.executorRunTime)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("task_gc_ms").addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** Collects `StreamingQueryProgress` for every trigger. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    q.add(e.progress)
  }

  /** Progress of the triggers that ran a batch, in order, and clears. */
  def take(spark: SparkSession): Seq[StreamingQueryProgress] = {
    BenchBus.drain(spark.sparkContext)
    val all = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    all.filter(_.durationMs.containsKey("addBatch"))
  }
}

/** What one pass of a workload produced. */
final case class Pass(wallS: Double, records: Long, stepsMs: Seq[Double])

/** One workload: `setup` opens everything the timed passes need (and warms
  * it); `pass` runs the workload's fixed run length once. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def pass(i: Int, tr: Tracer): Pass
  /** Stops what `setup` started, before its session stops. */
  def close(): Unit = ()
  /** Traced-only measurements of single layers outside the timed passes. */
  def probes(tr: Tracer): Unit = ()
  /** Per-layer counts gathered during the traced phase. */
  val counters: mutable.Map[String, Double] = mutable.Map()
  /** Outputs the runner checks against the generator's expected values. */
  val outputs: mutable.Map[String, Any] = mutable.Map()
}

object Harness {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Whole passes for about `seconds`, at least `min`, pass `i` under
    * `tracer(i)`: the phase ends at the pass boundary nearest to `seconds`,
    * judged by the last pass's length. */
  private def timed(w: Workload, seconds: Double, tracer: Int => Tracer,
      min: Int = 1): Seq[Pass] = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Pass]()
    while (passes.size < min || secs(t0) + passes.last.wallS / 2 <= seconds) {
      val tr = tracer(passes.size)
      passes += tr("bench.pass")(w.pass(passes.size, tr))
    }
    passes.toSeq
  }

  private def passJson(ps: Seq[Pass]): Seq[Map[String, Any]] = ps.map(p =>
    Map("wall_s" -> p.wallS, "records" -> p.records, "steps_ms" -> p.stepsMs))

  /** Usage: Harness <workload> key=value... with keys data, out, seconds,
    * trace (0|1), jit_passes and the workload's own parameters. */
  def main(args: Array[String]): Unit = {
    val name = args.head
    val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(kv("out"))
    Files.createDirectories(out)
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val w = Workloads(name, kv)
    val result = mutable.LinkedHashMap[String, Any]()

    // set up (session, workload set-up and its warm-up pass) in this cold
    // JVM, then run `jit_passes` untimed passes so the timed phase does not
    // start while the JIT is still compiling the hot paths
    val t0 = System.nanoTime()
    var spark = graft.jobs.BenchAccess.session(s"perfbench-$name")
    w.setup(spark)
    result("setup_s") = secs(t0)
    (0 until kv("jit_passes").toInt).foreach(w.pass(_, Tracer.off))
    result("cores") = spark.sparkContext.defaultParallelism
    result("spark_version") = spark.version
    result("master") = spark.sparkContext.master

    if (traced) {
      // traced and untraced passes alternate, so the overhead ratio does
      // not also measure JIT drift between two phases
      val tr = new Tracer(true, kv.getOrElse("run_id", name))
      val engine = new EngineCounters
      spark.sparkContext.addSparkListener(engine)
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val passes = timed(w, seconds, i => if (i % 2 == 1) tr else Tracer.off, min = 2)
      val wall = secs(t0)
      BenchBus.drain(spark.sparkContext)
      val (odd, even) = passes.zipWithIndex.partition(_._2 % 2 == 1)
      result("passes") = passJson(even.map(_._1))
      result("traced_passes") = passJson(odd.map(_._1))
      result("traced_wall_s") = wall
      result("phase_passes") = passes.size
      result("engine") = engine.snapshot()
      result("jvm_gc_ms") = gcMs() - gc0
      w.probes(tr)
      result("counters") = w.counters
      tr.write(out.resolve("trace.jsonl"))
      if (kv.get("one_core").contains("1")) {
        // engine.speedup_vs_1core: a one-core session with the same
        // settings, set up and timed for one pass in this equally warm JVM
        val conf = spark.sparkContext.getConf.clone().setMaster("local[1]")
        Seq("spark.app.id", "spark.app.startTime", "spark.driver.port")
          .foreach(conf.remove)
        w.close()
        spark.stop()
        spark = SparkSession.builder().config(conf).getOrCreate()
        w.setup(spark)
        result("one_core_passes") = passJson(timed(w, 0, _ => Tracer.off))
      }
    } else {
      result("passes") = passJson(timed(w, seconds, _ => Tracer.off))
      result("heap_after_gc_mb") = heapAfterGcMb()
    }
    w.close()
    result("outputs") = w.outputs
    result("jvm_flags") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Files.writeString(out.resolve("result.json"), Json(result))
    spark.stop()
  }
}
