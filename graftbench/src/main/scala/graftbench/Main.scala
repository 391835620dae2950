package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

/** Names a span around one call into the library. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val Off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** One workload's state after set-up. */
trait Instance {
  /** One timed op; returns op-level measurements (`lookup_s`, ...). */
  def op(k: Int, span: Spans): Map[String, Double]
  /** Untimed output check of op `k`; returns the failures. */
  def check(k: Int): Seq[String]
  /** Drop op `k`'s outputs. */
  def cleanup(k: Int): Unit
  def tsvBytesOnDisk: Long = 0L
  /** Untimed run-level work after the last op (result dumps). */
  def finish(): Unit = ()
}

trait Workload {
  def name: String
  /** Build the workload's inputs under `dir`; timed as set-up. */
  def setup(spark: SparkSession, dir: File, seed: Long): Instance
}

/** Benchmark JVM: runs workloads as a closed loop from one thread
  * and writes raw samples as JSON to `--out`.
  *
  * {{{
  *   graftbench.Main --workloads clinical_release,clinical_refresh
  *     --seed 1 --seconds 10 --trace 0 --cores 4 --work <dir> --out <file>
  * }}}
  *
  * Untraced (`--trace 0`): set up once, timed from process start for
  * the first workload and from the end of the previous workload for
  * the others, run the first op, then steady ops for `--seconds`.
  * Traced: set up, run the first op, steady ops for half the time,
  * then ops under the span tracer for the other half.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(ClinicalRelease, Corpus, ClinicalRefresh,
    ClinicalReleaseReusedIds)

  final case class Args(workloads: Seq[Workload], seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: File, out: File)

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def log(msg: String): Unit = System.err.println(f"[graftbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Samples of one workload, filled as the loop runs. */
  final class Samples {
    val setup = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val notes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    var first = Double.NaN
    var attempted = 0
    var failed = 0
  }

  /** Run, time and check op `k`; a throw or a failed check counts as
    * failed and keeps the op's time out of the samples. */
  private def timedOp(inst: Instance, k: Int, span: Spans, s: Samples,
      after: () => Unit = () => ()): Option[Double] = {
    s.attempted += 1
    try {
      val t0 = System.nanoTime()
      val notes = inst.op(k, span)
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"op $k%d: $dt%.3f s")
      after()
      val bad = inst.check(k)
      if (bad.nonEmpty) {
        s.failed += 1; s.errors ++= bad.map(b => s"op $k: $b"); None
      } else {
        notes.foreach { case (n, v) =>
          s.notes.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v }
        Some(dt)
      }
    } catch {
      case e: Exception =>
        s.failed += 1; s.errors += s"op $k: $e"; None
    } finally inst.cleanup(k)
  }

  /** Run `body` at least once, then again until `seconds` have passed. */
  private def loop(seconds: Double)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    do body while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  private def runPlain(w: Workload, a: Args, s: Samples, since: Long): Unit = {
    val dir = new File(a.work, w.name)
    Clinical.deleteRec(dir)
    val inst = w.setup(session(a.cores, a.work), dir, a.seed)
    s.setup += (System.currentTimeMillis() - since) / 1e3
    log(f"${w.name} set-up: ${s.setup.last}%.3f s")
    s.first = timedOp(inst, 0, Spans.Off, s).getOrElse(Double.NaN)
    var k = 1
    loop(a.seconds) {
      timedOp(inst, k, Spans.Off, s).foreach(s.ops += _); k += 1
    }
    finish(inst, s)
  }

  private def stopSession(): Unit =
    SparkSession.getActiveSession.foreach(_.stop())

  private def finish(inst: Instance, s: Samples): Unit =
    try inst.finish()
    catch {
      case e: Exception =>
        s.attempted += 1; s.failed += 1; s.errors += s"finish: $e"
    }

  private def runTraced(w: Workload, a: Args, s: Samples,
      layer: mutable.Map[String, Double]): Unit = {
    val spark = session(a.cores, a.work)
    val dir = new File(a.work, s"${w.name}_traced")
    Clinical.deleteRec(dir)
    val t0 = System.nanoTime()
    val inst = w.setup(spark, dir, a.seed)
    s.setup += (System.nanoTime() - t0) / 1e9
    s.first = timedOp(inst, 0, Spans.Off, s).getOrElse(Double.NaN)
    var k = 1
    loop(a.seconds / 2) {
      timedOp(inst, k, Spans.Off, s).foreach(s.ops += _); k += 1
    }
    val tracer = new Tracer(spark, a.cores)
    val csv0 = tracer.csvBytes
    var retained = 0L
    val first = k
    loop(a.seconds / 2) {
      val op = k
      val span = new Spans {
        def apply[T](name: String)(body: => T): T = tracer(w.name, name, op)(body)
      }
      timedOp(inst, op, span, s, () =>
        retained = SparkInternals.retainedRddBytes(spark.sparkContext))
        .foreach(s.traced += _)
      k += 1
    }
    finish(inst, s)
    val nTraced = k - first
    val p = w.name + "."
    tracer.summary(w.name).foreach { case (n, v) => layer(p + n) = v }
    layer(p + "retained_storage_bytes") = retained.toDouble
    layer(p + "trace_overhead_s") = median(s.traced.toSeq) - median(s.ops.toSeq)
    if (inst.tsvBytesOnDisk > 0) {
      layer(p + "tsv_read_amp") =
        (tracer.csvBytes - csv0).toDouble / (inst.tsvBytesOnDisk * nTraced)
      s.notes.get("output_bytes").foreach(v => layer(p + "output_bytes") = median(v.toSeq))
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = m.getOrElse("workloads", Workloads.map(_.name).mkString(",")).split(",").toSeq
    Args(
      workloads = names.map(n => Workloads.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"unknown workload $n"))),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      cores = m.getOrElse("cores",
        Runtime.getRuntime.availableProcessors.toString).toInt,
      work = new File(m.getOrElse("work", ".benchrun/work")).getAbsoluteFile,
      out = new File(m.getOrElse("out", ".benchrun/result.json")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, Any]
    var since = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    for (w <- a.workloads) {
      val s = new Samples
      try if (a.trace) runTraced(w, a, s, layer) else runPlain(w, a, s, since)
      catch {
        case e: Exception =>
          s.attempted += 1; s.failed += 1
          s.errors += s"set-up: $e"; e.printStackTrace()
      }
      report(w.name) = mutable.LinkedHashMap[String, Any](
        "setup_s" -> s.setup, "first_s" -> s.first, "op_s" -> s.ops,
        "traced_op_s" -> s.traced, "peak_rss_mb" -> peakRssMb(),
        "attempted" -> s.attempted, "failed" -> s.failed,
        "errors" -> s.errors) ++ s.notes
      stopSession()
      since = System.currentTimeMillis()
    }
    report("per_layer") = layer
    a.out.getAbsoluteFile.getParentFile.mkdirs()
    Files.write(a.out.toPath, toJson(report).getBytes(UTF_8))
  }
}
