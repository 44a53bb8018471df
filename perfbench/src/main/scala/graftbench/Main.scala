package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run inside one driver JVM: set up, then run whole
  * passes of the spec's operations in a closed loop with one client
  * until the time budget is spent, checking every result.
  *
  * Usage: graftbench.Main <spec.json> | --digest <work> <dir>...
  * The spec (written by run.py)
  * names the workload, the passes in their seeded order, the
  * reference digests and the output paths. The run writes its span
  * and operation records (`records.jsonl`) and a summary
  * (`summary.json`); run.py turns them into metrics.
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    Tracer.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A workload's operations against one session. */
  trait Workload {
    /** Registers the inputs; part of set-up. */
    def prepare(): Unit
    /** Untimed work before and after each pass; `check` compares the
      * final state with its reference (skipped after priming). */
    def beginPass(label: String): Unit = ()
    def endPass(check: Boolean): Option[String] = None
    /** Runs one operation; returns an error message if its result is wrong. */
    def run(op: JsonNode): Option[String]
    def describe(op: JsonNode): Map[String, Any]
    def summary: Map[String, Any] = Map.empty
  }

  /** Gate keys of `graft.SparkEntry`: build the DataFrame, then digest it. */
  final class Gates(spark: SparkSession, data: String, refs: Map[String, Check.Digest])
      extends Workload {
    // Every distinct digest seen per key: more than one means the key's
    // result is not deterministic.
    val got = scala.collection.mutable.Map[String, Set[Check.Digest]]().withDefaultValue(Set.empty)
    def prepare(): Unit =
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t)
      }
    def describe(op: JsonNode): Map[String, Any] =
      Map("kind" -> "gate", "class" -> "gate", "name" -> op.get("key").asText)
    def run(op: JsonNode): Option[String] = {
      val key = op.get("key").asText
      val gate = SparkEntry.queries(key)
      val df = Tracer.span("entry", "entry.build")(gate(spark, data))
      val d = Tracer.span("entry", "entry.action")(Check.digest(df))
      got(key) += d
      refs.get(key) match {
        case Some(r) if r != d => Some(s"$key: got ${d.rows} rows / ${d.value}, want ${r.rows} / ${r.value}")
        case None if refs.nonEmpty => Some(s"$key: no reference digest")
        case _ => None
      }
    }
    override def summary: Map[String, Any] =
      Map("digests" -> got.map { case (k, ds) =>
        k -> ds.toSeq.map(d => Map("rows" -> d.rows, "digest" -> d.value)) })
  }

  private def heapPeakBytes: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def vmHwmKb: Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }.getOrElse(0L)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--digest")) {
      // Digests of result directories written by graft.Verify, to tie
      // the reference digests to the oracle-checked results.
      val spark = session(2, args(1))
      args.drop(2).foreach { dir =>
        val d = Check.digest(spark.read.parquet(dir))
        println(s"${new java.io.File(dir).getName} ${d.rows} ${d.value}")
      }
      spark.stop()
      return
    }
    val spec = Json.read(args(0))
    val name = spec.get("workload").asText
    val cores = spec.get("cores").asInt
    val data = spec.get("data").asText
    val work = spec.get("work").asText
    val seconds = spec.get("seconds").asDouble
    val trace = spec.get("trace").asInt == 1
    val refs = spec.get("refs").fields().asScala.map { e =>
      e.getKey -> Check.Digest(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
    val prime = Json.elems(spec.get("prime"))
    val passes = Json.elems(spec.get("passes")).map(Json.elems)
    val minPasses = if (trace) 2 else 1

    val errors = ArrayBuffer[String]()
    def attempt(w: Workload, op: JsonNode): Option[String] =
      try w.run(op)
      catch { case e: Throwable => Some(s"${w.describe(op)("name")}: ${e.getClass.getSimpleName}: ${e.getMessage}") }

    // Set-up, from JVM start to the first timed operation: the Spark
    // session, the inputs, and checked priming operations (JIT,
    // codegen, the session's own caches), so the timed passes run warm.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, work)
    val t1 = Clock.ms
    val w: Workload = name match {
      case "lake_dml" => new LakeDml(spark, data, s"$work/lake", spec)
      case _          => new Gates(spark, data, refs)
    }
    w.prepare()
    val t2 = Clock.ms
    if (prime.nonEmpty) {
      w.beginPass("prime")
      prime.foreach(op => attempt(w, op).foreach(e => errors += s"set-up: $e"))
      w.endPass(check = false)
    }
    val setupEnd = Clock.ms

    // The timed region: whole passes until the budget is spent.
    val gc0 = gcMs
    val cpu0 = cpuNs
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val t0 = Clock.ms
    var pass = 0
    val passWindows = ArrayBuffer[Double]()
    while (pass < passes.size && (pass < minPasses || Clock.ms - t0 < seconds * 1e3)) {
      w.beginPass(s"pass$pass")
      val p0 = Clock.ms
      passes(pass).foreach { op =>
        // A traced run traces every other operation of the fixed order
        // (by rank, not by seeded position), the other half in the next
        // pass, so each operation runs traced and untraced and tracing
        // overhead is measured within the run.
        val traced = trace && (op.get("rank").asInt + pass) % 2 == 1
        if (traced) Tracer.attach(spark)
        var err: Option[String] = None
        val info = w.describe(op)
        val (s, e, id) = Tracer.op { err = attempt(w, op) }
        // Deliver the operation's last listener events before tracing
        // stops; untimed, as the next operation has not started.
        if (traced) Tracer.detach(spark)
        err.foreach(errors += _)
        Tracer.add(Map("t" -> "op", "op" -> id, "start" -> s, "end" -> e, "pass" -> pass,
          "ok" -> err.isEmpty, "traced" -> traced) ++ info)
      }
      passWindows += (Clock.ms - p0) / 1e3
      w.endPass(check = true).foreach(e => errors += s"pass $pass: $e")
      pass += 1
    }
    val wall = (Clock.ms - t0) / 1e3
    val gc1 = gcMs
    val cpu1 = cpuNs
    // Deliver the last stream progress events before writing.
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val out = spec.get("out").asText
    Tracer.write(s"$out/records.jsonl")
    val summary = Map(
      "setup_s" -> (setupEnd - jvmStart) / 1e3,
      "setup_parts_s" -> Seq(t1 - jvmStart, t2 - t1, setupEnd - t2).map(_ / 1e3),
      "passes" -> pass,
      "pass_s" -> passWindows.toSeq,
      "timed_wall_s" -> wall,
      "cores" -> cores,
      "jvm_gc_s" -> (gc1 - gc0) / 1e3,
      "jvm_cpu_s" -> (cpu1 - cpu0) / 1e9,
      "jvm_heap_peak_mb" -> heapPeakBytes / 1048576.0,
      "vm_hwm_mb" -> vmHwmKb / 1024.0,
      "errors" -> errors.toSeq) ++ w.summary
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/summary.json"), Json.render(summary))
    spark.stop()
  }
}
