package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.operators.ProductMerge
import graft.pipeline.{MarketEyePipeline, StageRunner}
import graft.report.Report
import graft.schema.Schemas
import graft.sinks.Sinks
import graft.sources.JsonSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One way through the system: `iterate` is the timed window, everything
  * else runs outside it. */
trait Path {
  def session(): SparkSession
  /** Untimed, before every iteration. */
  def beforeIteration(): Unit = Artifacts.clear()
  def iterate(spark: SparkSession): Unit
  /** Untimed: what the iteration produced, after checking everything it
    * wrote, reduced to values that must repeat exactly from iteration to
    * iteration and between the two EP1 paths. Throws on a failed check. */
  def outputs(spark: SparkSession): Map[String, String]
  /** Untimed: release what the iteration left behind. */
  def cleanup(spark: SparkSession): Unit
}

/** A benchmark workload. */
trait Workload extends Path {
  /** Untimed, once, after set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** One iteration with every layer boundary traced; returns the wall time
    * of the iteration and the per-layer metrics. */
  def traced(spark: SparkSession, trace: Trace, ledger: TaskLedger): (Double, Map[String, Double])
}

object Artifacts {
  /** The engine's in-process artifact caches (pair graph, semantic pair
    * graph, group statistics). */
  def clear(): Unit = {
    graft.operators.PairGraph.clearInProcess()
    graft.operators.SemanticPairGraph.clearInProcess()
    graft.operators.GroupStats.clearInProcess()
  }
}

object Fs {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Data files under a directory (no checksums, no markers). */
  def dataFiles(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists) Seq.empty
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .toSeq
  }

  def bytesUnder(dir: String): Long = dataFiles(dir).map(_.length).sum

  def requireComplete(dir: String): Unit =
    require(new File(dir, "_SUCCESS").isFile, s"sink incomplete: $dir has no _SUCCESS")

  /** Non-blank lines over the data files of a text sink. */
  def lines(dir: String, skipHeader: Boolean = false): Long =
    dataFiles(dir).map { f =>
      val n = Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.count(_.nonEmpty)
      if (skipHeader && n > 0) n - 1 else n
    }.sum
}

object Canon {
  /** Order-insensitive digest of a frame: row count, the sum of the low 32
    * bits of each row's 64-bit hash, and the XOR of the hashes. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), bit_xor(h)).collect()(0)
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$s%x:$x%016x"
  }

  /** Order-insensitive digest of collected rows in their string form. */
  def digestRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    s"${rows.size}:" + md.digest().map(b => f"$b%02x").mkString
  }

  private val mapper = new ObjectMapper()

  /** The statistics of a run as canonical values; the average is rounded
    * to 12 significant digits, because its floating-point sum depends on
    * the order partitions are combined in. */
  def stats(totalProducts: Long, totalOffers: Long, avg: Double, min: Double,
            max: Double, sources: Seq[String]): Map[String, String] = Map(
    "total_products" -> totalProducts.toString,
    "total_offers" -> totalOffers.toString,
    "avg_price" -> new java.math.BigDecimal(avg).round(new java.math.MathContext(12)).toString,
    "min_price" -> min.toString,
    "max_price" -> max.toString,
    "sources" -> sources.mkString(","))

  /** From the statistics JSON `MarketEyePipeline.run` returns. */
  def statsFromRendered(json: String): Map[String, String] = {
    val n = mapper.readTree(json)
    stats(n.get("total_products").asLong, n.get("total_offers").asLong,
      n.get("avg_price").asDouble, n.get("min_price").asDouble,
      n.get("max_price").asDouble, n.get("sources").elements().asScala.map(_.asText).toSeq)
  }

  /** From the statistics JSON the `stats` stage writes. */
  def statsFromStage(dir: String): Map[String, String] = {
    val file = Fs.dataFiles(dir).find(_.getName.endsWith(".json"))
      .getOrElse(sys.error(s"no statistics file under $dir"))
    val n = mapper.readTree(Files.readAllLines(file.toPath).asScala.mkString)
    stats(n.get("total_products").asLong, n.get("total_offers").asLong,
      n.get("average_price").asDouble, n.get("min_price").asDouble,
      n.get("max_price").asDouble, n.get("sources").elements().asScala.map(_.asText).toSeq)
  }
}

/** The production EP1 session: only what the Airflow DAG submits
  * (local[nproc], UTC, AQE). Shared by both EP1 paths. */
abstract class Ep1Path(val in: String, val work: String) extends Path {
  val RunTs = "20260115T000000"
  val out = s"$work/out"

  def session(): SparkSession = SparkSession.builder()
    .master(s"local[${Runtime.getRuntime.availableProcessors}]")
    .appName("marketeye-perfbench")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  /** Checks every sink under `out` against the run's own totals. */
  private def checkSinks(spark: SparkSession, stats: Map[String, String]): Unit = {
    val products = stats("total_products").toLong
    val offers = stats("total_offers").toLong
    val json = s"$out/marketeye_final"
    val backup = s"$out/backups/marketeye_backup_$RunTs"
    val csv = s"$out/analysis_csv"
    val rel = s"$out/relational"
    Seq(json, backup, csv, s"$rel/products", s"$rel/offers").foreach(Fs.requireComplete)
    def expect(what: String, got: Long, want: Long): Unit =
      require(got == want, s"$what: $got rows, expected $want")
    expect("json sink", Fs.lines(json), products)
    expect("backup sink", Fs.lines(backup), products)
    expect("csv sink", Fs.lines(csv, skipHeader = true), offers)
    expect("relational products", spark.read.parquet(s"$rel/products").count(), products)
    expect("relational offers", spark.read.parquet(s"$rel/offers").count(), offers)
  }

  protected def outputsWith(spark: SparkSession, merged: DataFrame,
                            stats: Map[String, String], anomalies: Long): Map[String, String] = {
    checkSinks(spark, stats)
    stats ++ Map("merged_digest" -> Canon.digest(merged), "anomalies" -> anomalies.toString)
  }
}

object Ep1 {
  val Sources: Seq[(String, org.apache.spark.sql.types.StructType)] = Seq(
    "Avito" -> Schemas.avitoSchema, "Jumia" -> Schemas.jumiaSchema,
    "Electroplanet" -> Schemas.electroplanetSchema)

  /** One source as `JsonSource.loadSource` reads it, forced over every
    * column so the JSON reader cannot prune the parse (and the
    * malformed-record drop) away; returns the rows kept. */
  def loadCount(spark: SparkSession, in: String, source: String,
                schema: org.apache.spark.sql.types.StructType): Long = {
    val df = JsonSource.loadSource(spark, in, source, schema)
    df.agg(count(struct(df.columns.map(col).toIndexedSeq: _*))).collect()(0).getLong(0)
  }
}

/** `MarketEyePipeline.run` in memory. Not a timed workload: it is the
  * second EP1 path the staged outputs are checked against. */
final class InMemoryPath(in: String, work: String) extends Ep1Path(in, work) {
  private var last: MarketEyePipeline.Result = _

  def iterate(spark: SparkSession): Unit =
    last = MarketEyePipeline.run(spark, MarketEyePipeline.Config(in, out, RunTs))

  def outputs(spark: SparkSession): Map[String, String] = {
    val stats = Canon.statsFromRendered(last.statsJson)
    val anomalies = "Anomalies totales: (\\d+)".r.findFirstMatchIn(last.anomalyReport)
      .getOrElse(sys.error("anomaly report has no total")).group(1).toLong
    require(last.report.contains("RAPPORT D"), "detailed report is empty")
    outputsWith(spark, last.merged, stats, anomalies)
  }

  def cleanup(spark: SparkSession): Unit = {
    // run() caches the merged frame and never releases it
    if (last != null) last.merged.unpersist(blocking = true)
    last = null
    Fs.delete(out)
  }
}

/** The seven `StageRunner.main` stages in DAG order in one JVM, handing
  * off through a parquet stage dir. */
final class Ep1Staged(in: String, work: String) extends Ep1Path(in, work) with Workload {
  val stageDir = s"$work/stage"

  val stages: Seq[Array[String]] = Seq(
    Array("extract_avito", in, stageDir, RunTs),
    Array("extract_jumia", in, stageDir, RunTs),
    Array("extract_electroplanet", in, stageDir, RunTs),
    Array("merge", stageDir),
    Array("stats", stageDir),
    Array("anomalies", stageDir),
    Array("load", stageDir, out, RunTs))

  def iterate(spark: SparkSession): Unit = stages.foreach(StageRunner.main)

  /** Also the rows each source kept: an extract stage's transform is a
    * projection, so its hand-off holds one row per record the read kept. */
  def outputs(spark: SparkSession): Map[String, String] = {
    val stats = Canon.statsFromStage(s"$stageDir/statistics")
    val anomalies = spark.read.parquet(s"$stageDir/anomalies").count()
    val kept = Ep1.Sources.map { case (s, _) =>
      s"rows.$s" -> spark.read.parquet(s"$stageDir/transformed_$s").count().toString }
    outputsWith(spark, spark.read.parquet(s"$stageDir/merged"), stats, anomalies) ++ kept
  }

  def cleanup(spark: SparkSession): Unit = {
    Fs.delete(stageDir)
    Fs.delete(out)
  }

  /** The stages, one span each. After them, outside the iteration's wall
    * time, the layers a stage fuses are probed one by one on the same drop:
    * each source read, the detailed report, and each of the four sinks the
    * load stage writes. */
  def traced(spark: SparkSession, trace: Trace, ledger: TaskLedger): (Double, Map[String, Double]) = {
    val t0 = System.nanoTime()
    stages.foreach(s => trace(s"stage.${s(0)}")(StageRunner.main(s)))
    val wall = (System.nanoTime() - t0) / 1e9

    val rowsOut = Ep1.Sources.map { case (s, schema) =>
      trace(s"sources.$s")(Ep1.loadCount(spark, in, s, schema)) }.sum.toDouble
    val merged = spark.read.parquet(s"$stageDir/merged")
    val probe = s"$work/probe"
    trace("report")(Report.detailed(merged, RunTs))
    trace("sinks.json")(Sinks.writeJson(merged, s"$probe/marketeye_final"))
    trace("sinks.backup")(Sinks.writeBackup(merged, s"$probe/backups", RunTs))
    trace("sinks.csv")(Sinks.writeCsv(merged, s"$probe/analysis_csv"))
    trace("sinks.relational")(Sinks.writeRelationalFiles(merged, s"$probe/relational"))
    Fs.delete(probe)
    val totals = ledger.drain(spark)

    val spans = trace.all.filter(_.iteration == trace.iteration)
    def wallOf(prefix: String): Double =
      spans.filter(s => s.name == prefix || s.name.startsWith(prefix + ".")).map(_.seconds).sum
    def tot(prefix: String): TaskTotals = {
      val t = new TaskTotals
      totals.foreach { case (k, v) => if (k == prefix || k.startsWith(prefix + ".")) t += v }
      t
    }
    val mb = 1048576.0
    val extracts = Seq("extract_avito", "extract_jumia", "extract_electroplanet")
    val ex = new TaskTotals
    extracts.foreach(e => ex += tot(s"stage.$e"))
    val mg = tot("stage.merge"); val an = tot("stage.anomalies")
    val rowsIn = Ep1.Sources.map(s => Meta.lines(in, s._1)).sum.toDouble
    val transformed = ProductMerge.PluginOrder.map(s =>
      spark.read.parquet(s"$stageDir/transformed_$s").count()).sum.toDouble
    val stats = Canon.statsFromStage(s"$stageDir/statistics")
    val offersOut = stats("total_offers").toDouble
    val files = Fs.dataFiles(out)
    val m = Map(
      "sources.wall_s" -> wallOf("sources"), "sources.tasks" -> tot("sources").tasks.toDouble,
      "sources.rows_in" -> rowsIn, "sources.rows_out" -> rowsOut,
      "sources.kept_ratio" -> rowsOut / rowsIn,
      // an extract stage is read + transform + hand-off write in one scan
      "transform.wall_s" -> extracts.map(e => wallOf(s"stage.$e")).sum,
      "transform.cpu_s" -> ex.cpuNs / 1e9, "transform.gc_s" -> ex.gcMs / 1e3,
      "transform.rows_out" -> transformed,
      "merge.wall_s" -> wallOf("stage.merge"), "merge.cpu_s" -> mg.cpuNs / 1e9,
      "merge.gc_s" -> mg.gcMs / 1e3, "merge.shuffle_write_mb" -> mg.shuffleWriteBytes / mb,
      "merge.shuffle_records" -> mg.shuffleWriteRecords.toDouble,
      "merge.spill_mb" -> mg.spillBytes / mb, "merge.fetch_wait_s" -> mg.fetchWaitMs / 1e3,
      "merge.offers_in" -> transformed, "merge.offers_out" -> offersOut,
      "merge.products_out" -> stats("total_products").toDouble,
      "merge.dedup_ratio" -> offersOut / transformed,
      "stats.wall_s" -> wallOf("stage.stats"),
      "anomaly.wall_s" -> wallOf("stage.anomalies"), "anomaly.cpu_s" -> an.cpuNs / 1e9,
      "anomaly.shuffle_write_mb" -> an.shuffleWriteBytes / mb,
      "anomaly.spill_mb" -> an.spillBytes / mb,
      "anomaly.flagged" -> spark.read.parquet(s"$stageDir/anomalies").count().toDouble,
      "report.wall_s" -> wallOf("report"), "report.jobs" -> tot("report").jobs.toDouble,
      "sinks.json.wall_s" -> wallOf("sinks.json"), "sinks.backup.wall_s" -> wallOf("sinks.backup"),
      "sinks.csv.wall_s" -> wallOf("sinks.csv"),
      "sinks.relational.wall_s" -> wallOf("sinks.relational"),
      "sinks.bytes_written_mb" -> files.map(_.length).sum / mb,
      "sinks.files_written" -> files.size.toDouble,
      "stage.handoff_mb" -> Fs.bytesUnder(stageDir) / mb) ++
      stages.map(s => s"stage.${s(0)}.wall_s" -> wallOf(s"stage.${s(0)}")) ++
      Common.ledgerTotals(totals)
    (wall, m)
  }
}

/** The near-dup curation family in order, in one session, with the pair
  * graph shared inside an iteration and cleared between iterations. The
  * family is fixed here rather than taken from the pipeline bench, so the
  * benchmark's work cannot change with that tool's defaults. */
final class Curation(dir: String, work: String, writeResults: Boolean) extends Workload {
  val Family: Seq[String] = Seq("d2_minhash_neardup", "d8_neardup_clusters",
    "d10_dedup_apply", "x17_cluster_split", "x22b_pretrain_neardup")
  private var resultsWritten = false

  /** The session of the engine's pipeline bench. */
  def session(): SparkSession = {
    System.setProperty("graft.cacheTables", "true")
    val cpus = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("curation-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(1, cpus / 2))
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
  }

  /** The untimed table prewarm of the engine's pipeline bench. */
  override def prepare(spark: SparkSession): Unit = graft.Queries.prewarmTables(spark, dir)

  private def run(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  /** Each query's result of the last iteration. The results are small, so
    * collecting them forces every row like a `noop` write does, and the
    * checks then read the very rows the timed window produced. */
  private var last: Map[String, Seq[Row]] = Map.empty

  def iterate(spark: SparkSession): Unit =
    last = Family.map(q => q -> run(spark, q).collect().toSeq).toMap

  /** Each query's rows, checked for the structure the family guarantees,
    * and digested. With `writeResults` the first iteration's results are
    * also written for the DuckDB oracle comparison. */
  def outputs(spark: SparkSession): Map[String, String] = {
    if (writeResults && !resultsWritten) {
      Family.foreach(q => run(spark, q).write.mode("overwrite").parquet(s"$work/results/$q"))
      val sql = Family.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
      Files.write(new File(work, "oracle_sql.json").toPath,
        sql.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
      resultsWritten = true
    }
    def ints(q: String, c: String): Seq[Long] = last(q).map(r => r.getAs[Number](c).longValue)
    require(last("d2_minhash_neardup").forall(r =>
      r.getAs[Number]("id_a").longValue < r.getAs[Number]("id_b").longValue &&
        r.getAs[Double]("jaccard") >= 0.2), "d2: a pair is unordered or below the threshold")
    require(last("d8_neardup_clusters").forall(r => r.getAs[Number]("cluster_id").longValue <=
      r.getAs[Number]("doc_id").longValue), "d8: a cluster label is not its smallest member")
    val docs = last("d8_neardup_clusters").size.toLong
    require(ints("d10_dedup_apply", "n_docs").sum == docs, "d10: survivors do not cover every document")
    require(ints("d10_dedup_apply", "doc_id").toSet == ints("d8_neardup_clusters", "cluster_id").toSet,
      "d10: survivors are not the cluster labels")
    require(ints("x17_cluster_split", "n_docs").sum == docs, "x17: splits do not cover every document")
    require(last("x22b_pretrain_neardup").nonEmpty, "x22b: no packs")
    Family.map(q => q -> Canon.digestRows(last(q).map(_.toString))).toMap
  }

  def cleanup(spark: SparkSession): Unit = last = Map.empty

  def traced(spark: SparkSession, trace: Trace, ledger: TaskLedger): (Double, Map[String, Double]) = {
    val t0 = System.nanoTime()
    last = Family.map(q => q -> trace(s"dedup.$q")(run(spark, q).collect().toSeq)).toMap
    val wall = (System.nanoTime() - t0) / 1e9
    val totals = ledger.drain(spark)
    val spans = trace.all.filter(_.iteration == trace.iteration)
    def w(q: String): Double = spans.filter(_.name == s"dedup.$q").map(_.seconds).sum
    val t = new TaskTotals
    totals.foreach { case (k, v) => if (k.startsWith("dedup.")) t += v }
    val m = Family.map(q => s"dedup.$q.wall_s" -> w(q)).toMap ++ Map(
      "dedup.build_s" -> w(Family.head),
      "dedup.consume_s" -> Family.tail.map(w).sum,
      "dedup.cpu_s" -> t.cpuNs / 1e9,
      "dedup.shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
      "dedup.spill_mb" -> t.spillBytes / 1048576.0,
      "dedup.pairs_out" -> last(Family.head).size.toDouble) ++ Common.ledgerTotals(totals)
    (wall, m)
  }
}

object Common {
  def ledgerTotals(totals: Map[String, TaskTotals]): Map[String, Double] = {
    val t = new TaskTotals
    totals.values.foreach(t += _)
    Map("all.failed_tasks" -> t.failedTasks.toDouble, "all.stage_retries" -> t.stageRetries.toDouble)
  }
}

/** The generator's meta.json, read for the line counts the layers report. */
object Meta {
  private val mapper = new ObjectMapper()
  def lines(in: String, source: String): Long =
    mapper.readTree(new File(in, "meta.json")).get("files").get(source).get("lines").asLong
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
