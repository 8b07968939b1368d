package perfbench

import org.apache.spark.sql.SparkSession

/** A ground-truth check failed: names the workload, operation and id. */
final class CheckFailed(workload: String, op: String, id: String, msg: String)
    extends RuntimeException(s"CHECK FAILED workload=$workload op=$op id=$id: $msg")

object Check {
  def apply(cond: Boolean, workload: String, op: String, id: => Any, msg: => String): Unit =
    if (!cond) throw new CheckFailed(workload, op, String.valueOf(id), msg)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for records (maps, sequences, numbers, strings). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val tiny: Boolean, val workDir: java.nio.file.Path, val tracer: Tracer) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  private val dirs = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh, not yet existing directory under the run's work dir. */
  def freshDir(prefix: String): String =
    workDir.resolve(s"$prefix-${dirs.incrementAndGet()}").toAbsolutePath.toString

  /** Spark listener events; registered during the traced phase only. */
  val probe = new SparkProbe

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Time one operation (the timing window is exactly `body`). */
  def timed[T](kind: String, traced: Boolean)(body: => T): (T, OpSample) = {
    val t0 = System.nanoTime()
    val r = span("workload", s"root.$kind")(body)
    (r, OpSample(kind, (System.nanoTime() - t0) / 1e6, traced))
  }
}

object Isolation {
  /** Between operations, outside any timing window: drop the LLM response
    * cache and every pinned block (localCheckpoint stages, caches), with a
    * blocking unpersist, so an operation never measures its predecessor's
    * state. `keep` lists RDD ids of the benchmark's own cached inputs.
    */
  def reset(spark: SparkSession, keep: Set[Int]): Unit = {
    graft.llm.ResponseCache.clear()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    // Collect what the last operation left unreachable — notably the LLM
    // clients each task deserializes, whose HTTP connections and selector
    // threads stay open until their client object is collected.
    System.gc()
  }

  /** Ids of the persisted RDDs currently backing `spark`'s caches. */
  def persistedIds(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Heap in use after full collections, in MB. */
  def heapAfterGcMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      bean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }

  /** Bytes and regular-file count under `path`. */
  def du(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val s = java.nio.file.Files.walk(p)
    try {
      var bytes = 0L; var files = 0L
      s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
        bytes += java.nio.file.Files.size(f); files += 1
      }
      (bytes, files)
    } finally s.close()
  }
}

/** One timed operation: its kind, its wall time and whether it was traced. */
final case class OpSample(kind: String, ms: Double, traced: Boolean)

/** The contract a workload implements for [[Main]]'s operation loop. */
trait Workload {
  /** Generate inputs from the seed and build all state. Repeatable: each
    * call follows a [[teardown]] of what the previous one built.
    */
  def setup(): Unit
  /** Run the operations once untimed (JIT, codegen, connection pools),
    * leaving no pinned state behind. Called once, after the last set-up.
    */
  def warmUp(): Unit
  /** Input digest (same seed → same digest). */
  def digest: String
  /** Run one operation; time only the operation itself and check its
    * result against ground truth outside the timing window.
    */
  def runOp(traced: Boolean): OpSample
  /** Checks that need the whole run (after the timed phase). */
  def finalChecks(): Unit
  /** End-to-end metrics from the untraced samples. */
  def endToEnd(samples: Seq[OpSample]): Map[String, Double]
  /** Workload-specific per-layer metrics from the traced samples. */
  def layers(traced: Seq[OpSample]): Map[String, Double]
  /** The workload's own named figures (kept in the record file). */
  def figures(samples: Seq[OpSample]): Map[String, Double]
  /** Input sizes, for the record. */
  def sizes: Map[String, Any]
  def teardown(): Unit
}
