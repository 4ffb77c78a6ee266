package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set-up, warm-up, the timed (or traced)
  * iterations with their output checks, and one JSON result file. The
  * Python launcher (run.py) generates the inputs, starts this process, checks
  * the outputs against the generator and the oracle, and prints the metrics.
  *
  * Arguments, all `--key value`:
  *   workload   ep1_staged_rescrape | curation_neardup
  *   in         generated input directory
  *   work       scratch directory for stage dirs, sinks and results
  *   out        result JSON file
  *   spawn-ms   epoch millis at which the launcher started this process
  *   seconds    measured time
  *   trace      0 | 1: with 1, two untraced then two traced iterations
  *   warmup     untimed warm-up iterations
  *   min-iters  fewest timed iterations, however long they take
  *   crosscheck 0 | 1: run the in-memory EP1 path once and compare outputs
  *   oracle-results 0 | 1: write the first curation results for the oracle
  */
object Main {
  final case class Iter(kind: String, wallS: Double, cpuS: Double, threadCpuS: Double,
                        heapMb: Double, gcs: Long, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val work = a("work")
    new File(work).mkdirs()
    val w: Workload = name match {
      case "ep1_staged_rescrape" => new Ep1Staged(a("in"), work)
      case "curation_neardup" => new Curation(a("in"), work, a.getOrElse("oracle-results", "0") == "1")
      case other => sys.error(s"unknown workload: $other")
    }
    Process.install()

    // set-up: from JVM start (the launcher's spawn time) until the session is
    // ready and one trivial job has run; sampled twice more by stopping
    // the session and building it anew in the same JVM
    def setUp(fromMs: Long): (SparkSession, Map[String, Double]) = {
      val spark = w.session()
      val sessionMs = System.currentTimeMillis()
      spark.range(1000).count()
      val readyMs = System.currentTimeMillis()
      (spark, Map("setup_s" -> (readyMs - fromMs) / 1e3,
        "session_s" -> (sessionMs - fromMs) / 1e3, "first_job_s" -> (readyMs - sessionMs) / 1e3))
    }
    val (cold, coldSetup) = setUp(a("spawn-ms").toLong)
    cold.stop()
    val (warm, warmSetup) = setUp(System.currentTimeMillis())
    warm.stop()
    val (spark, lastSetup) = setUp(System.currentTimeMillis())
    val samples = Seq(coldSetup, warmSetup, lastSetup)
    def med(k: String): Double = samples.map(_(k)).sorted.apply(samples.size / 2)
    val setup = Map("setup_s" -> med("setup_s"), "session_s" -> med("session_s"),
      "first_job_s" -> med("first_job_s"), "cold_setup_s" -> coldSetup("setup_s"))
    val result = mutable.LinkedHashMap[String, Any]("workload" -> name, "setup" -> setup)
    spark.sparkContext.setLogLevel("WARN")

    val tracing = a.getOrElse("trace", "0") == "1"
    val seconds = a.getOrElse("seconds", "10").toDouble
    val ledger = new TaskLedger
    // tracing off means no listener at all in the measured process
    if (tracing) spark.sparkContext.addSparkListener(ledger)
    val trace = new Trace(spark)
    w.prepare(spark)

    val iters = mutable.ArrayBuffer.empty[Iter]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var reference: Option[Map[String, String]] = None

    def iteration(kind: String): Unit = {
      trace.iteration += 1
      w.beforeIteration()
      if (kind == "traced") ledger.drain(spark)
      val it = try {
        val win =
          if (kind == "traced") {
            val ((wall, m), win) = Process.measure(w.traced(spark, trace, ledger))
            layers += m
            win.copy(wallS = wall)
          } else Process.measure(w.iterate(spark))._2
        val got = w.outputs(spark)
        val error = reference match {
          case None => reference = Some(got); None
          case Some(ref) if ref == got => None
          case Some(ref) =>
            val diff = (ref.keySet ++ got.keySet).toSeq.sorted
              .filter(k => ref.get(k) != got.get(k))
              .map(k => s"$k: ${ref.get(k).orNull} then ${got.get(k).orNull}")
            Some(s"outputs differ from the first iteration: ${diff.mkString("; ")}")
        }
        Iter(kind, win.wallS, win.cpuS, win.threadCpuS, win.peakHeapMb, win.gcs, error)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Iter(kind, Double.NaN, Double.NaN, Double.NaN, Double.NaN, 0L, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      } finally {
        try w.cleanup(spark) catch { case NonFatal(e) => e.printStackTrace() }
      }
      iters += it
      System.err.println(f"[perfbench] $name $kind%-6s ${it.wallS}%8.3f s  cpu ${it.cpuS}%8.3f s  " +
        f"thread cpu ${it.threadCpuS}%8.3f s  " +
        f"heap ${it.heapMb}%8.1f MB  gcs ${it.gcs}%3d  ${it.error.getOrElse("ok")}")
    }

    def phase(kind: String, budget: Double, minIters: Int): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < minIters || (System.nanoTime() - t0) / 1e9 < budget) {
        iteration(kind)
        n += 1
      }
    }

    (1 to a.getOrElse("warmup", "1").toInt).foreach(_ => iteration("warmup"))
    if (tracing) {
      // two untraced iterations for the overhead baseline, then two traced
      phase("timed", 0, 2)
      phase("traced", 0, 2)
    } else phase("timed", seconds, a.getOrElse("min-iters", "3").toInt)

    (w, reference) match {
      case (_: Ep1Staged, Some(ref)) if a.getOrElse("crosscheck", "0") == "1" =>
        // the in-memory path on the same drop must produce the same outputs
        val o = new InMemoryPath(a("in"), s"$work/cross")
        o.beforeIteration()
        val got = try { o.iterate(spark); o.outputs(spark) } finally o.cleanup(spark)
        result("crosscheck") = got
        val agrees = got.forall { case (k, v) => ref.get(k).forall(_ == v) }
        System.err.println(s"[perfbench] crosscheck ${if (agrees) "agrees" else "DIFFERS"}")
      case _ => ()
    }

    result("reference") = reference.getOrElse(Map.empty)
    result("iterations") = iters.map(i => Map("kind" -> i.kind, "wall_s" -> i.wallS,
      "cpu_s" -> i.cpuS, "thread_cpu_s" -> i.threadCpuS, "heap_mb" -> i.heapMb, "gcs" -> i.gcs, "error" -> i.error.orNull))
    result("layers") = layers
    result("confs") = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.ui") || k.startsWith("spark.driver.memory") }
    if (tracing) trace.write(s"$work/trace_spans.jsonl")
    finish(spark, a("out"), result)
  }

  private def finish(spark: SparkSession, out: String, result: collection.Map[String, Any]): Unit = {
    Files.write(new File(out).toPath,
      Json.render(result.toMap).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
