package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.ops.ext.TextStats.QualityThresholds
import graft.pipeline.{Curation, NightlyIngest, ParquetToRdf, RdfConfig, TtlToParquet}

import scala.collection.mutable

/** JVM side of the benchmark: sets the engine up, runs one workload's
  * passes for a fixed time through the engine's public entry points, and
  * prints one result line (`GRAFTBENCH_RESULT {...}`) for `run.py`.
  *
  * Usage: `Driver <workload> <inputDir> <warmupDir> <outDir> <workDir>
  *   <seconds> <trace 0|1> <seed>`.
  *
  * Every call into the engine is an operation: it is timed, counted as
  * attempted, and counted as failed if it throws. With tracing on, a
  * [[Recorder]] attributes the Spark work of each operation and the
  * per-layer figures go into the result line and a trace file. */
object Driver {

  final case class Args(workload: String, input: String, warmup: String,
      out: String, work: String, seconds: Double, trace: Boolean, seed: Long)

  val Release = "2016-10"
  val Setups = 3
  val Cpus = 4

  // q83's quality-gate thresholds (SparkEntry "q83_curate_gated")
  val Q83Gate = QualityThresholds(
    minTokens = 20, maxTokens = 100000, minAlphaBp = 8150,
    maxPii = 0, minDistinctBp = 3500, maxTopTokenBp = 1200,
    maxMeanRarity = Some(32000000L), rarityTopV = 100)

  val OpNames = Seq("ttl_to_parquet", "parquet_to_rdf", "curate", "nightly_tables",
    "nightly_batch", "build", "action")

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  // ---- operations --------------------------------------------------------

  /** One timed call into the engine. */
  final case class OpRecord(pass: Int, op: String, key: String,
      t0Ms: Long, t1Ms: Long, wallS: Double)

  final class Ops(spark: SparkSession) {
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var pass = 0
    var attempted = 0L
    var failed = 0L
    private var seq = 0

    def apply[A](op: String)(f: => A): A = {
      seq += 1
      val key = s"$pass|$op|$seq"
      val sc = spark.sparkContext
      sc.setLocalProperty(Recorder.KeyProp, key)
      attempted += 1
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[graftbench] operation $op failed: $e")
          e.printStackTrace()
          throw e
      } finally {
        val wall = (System.nanoTime() - t0) / 1e9
        records += OpRecord(pass, op, key, t0Ms, System.currentTimeMillis(), wall)
        sc.setLocalProperty(Recorder.KeyProp, null)
      }
    }
  }

  // ---- workloads ---------------------------------------------------------

  trait Workload {
    /** One measured pass over `input`, writing under `out`. */
    def pass(spark: SparkSession, op: Ops, input: String, out: String): Unit
    /** The set-up's warm-up: one small call into the engine, on the small
      * input of the same shape. The measured pass that follows is the
      * first, compile work included, as a batch job pays it on every run. */
    def warmup(spark: SparkSession, input: String, out: String): Unit
    /** Workload facts for the result line, as JSON values by key. */
    def extra: Seq[(String, String)] = Nil
  }

  /** The reference's job, TTL -> parquet -> RDF at the heaviest config,
    * then the roster's RDF reference-surface queries through
    * `SparkEntry.queries` over the star-schema tables in `input/sf`. */
  final class RdfEtl(seed: Long) extends Workload {
    var counts: Map[String, Long] = Map.empty

    /** The RDF reference-surface queries, plus one query over `events`
      * (the table whose read sets a session conf key), in seeded order. */
    val sample: Seq[String] = {
      val nums = Set(13, 14, 15, 16, 17, 18, 19, 29, 31, 32, 34, 35, 48, 49, 50)
      val roster = SparkEntry.queries.keySet.toSeq.sorted
      new scala.util.Random(seed).shuffle(
        roster.filter(n => nums(n.drop(1).takeWhile(_.isDigit).toInt)))
    }
    val queryS = mutable.ArrayBuffer.empty[(Int, Double)]
    val confChanged = mutable.SortedSet.empty[String]

    def pass(spark: SparkSession, op: Ops, input: String, out: String): Unit = {
      val pq = s"$out/parquet"
      ParquetToRdf.datasetNames.foreach { name =>
        op("ttl_to_parquet") {
          TtlToParquet.runDiscovered(spark, input, Release, "core-i18n", name,
            s"$pq/$name.parquet")
        }
      }
      counts = op("parquet_to_rdf") {
        ParquetToRdf.run(spark, pq, s"$out/rdf", RdfConfig(
          topInfoboxPropertiesPerLang = Some(100),
          externaliseUris = true,
          writeTypes = true))
      }
      sample.foreach { name =>
        spark.catalog.clearCache()
        val before = spark.conf.getAll
        val t0 = System.nanoTime()
        val df = op("build")(SparkEntry.queries(name)(spark, s"$input/sf"))
        op("action")(df.write.mode(SaveMode.Overwrite).parquet(s"$out/results/$name"))
        queryS += ((op.pass, (System.nanoTime() - t0) / 1e9))
        val after = spark.conf.getAll
        confChanged ++= (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      }
    }

    def warmup(spark: SparkSession, input: String, out: String): Unit =
      TtlToParquet.runDiscovered(spark, input, Release, "core-i18n", "labels",
        s"$out/labels.parquet")

    /** The sample's oracle SQL, for the checks. */
    def writeOracle(out: String): Unit = {
      val sql = SparkEntry.oracleSql
      val body = sample.map(n => s"${Json.str(n)}:${Json.str(sql(n))}").mkString("{", ",\n", "}")
      Files.write(Paths.get(out, "oracle.json"), body.getBytes(StandardCharsets.UTF_8))
    }

    override def extra: Seq[(String, String)] = Seq(
      "rdf_counts" -> counts.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
        .mkString("{", ",", "}"),
      "sample" -> sample.map(Json.str).mkString("[", ",", "]"),
      "conf_changed" -> confChanged.toSeq.map(Json.str).mkString("[", ",", "]"))
  }

  object Curate extends Workload {
    def warmup(spark: SparkSession, input: String, out: String): Unit =
      NightlyIngest.buildTables(spark.read.parquet(s"$input/corpus.parquet"),
        col("text"), "graftbench_warmup")

    def pass(spark: SparkSession, op: Ops, input: String, out: String): Unit = {
      val bench = spark.read.parquet(s"$input/bench.parquet")
      val standing = op("curate") {
        val survivors = Curation.curate(spark.read.parquet(s"$input/corpus.parquet"),
          col("text"), "doc_id", "source", bench,
          minDocs = 20, minAlphaBp = 8100, numHashes = 2,
          maxBucketSize = 1000, n = 8, gate = Some(Q83Gate))
        survivors.select(col("doc_id")).write.mode(SaveMode.Overwrite)
          .parquet(s"$out/curated")
        survivors
      }
      val tables = op("nightly_tables") {
        NightlyIngest.buildTables(standing, col("text"), "graftbench_standing")
      }
      val nights = new File(input).list().filter(_.matches("night\\d+\\.parquet")).sorted
      nights.foreach { night =>
        op("nightly_batch") {
          NightlyIngest.runBatch(spark.read.parquet(s"$input/$night"), tables,
              col("text"), "doc_id", "source", bench)
            .select(col("doc_id")).write.mode(SaveMode.Overwrite)
            .parquet(s"$out/${night.stripSuffix(".parquet")}")
        }
      }
    }
  }

  // ---- main --------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3), argv(4), argv(5).toDouble,
      argv(6) == "1", argv(7).toLong)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = a.workload match {
      case "rdf_etl" => new RdfEtl(a.seed)
      case "curate" => Curate
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = new File(a.out)
    deleteRecursively(out)
    out.mkdirs()

    // set-up, several times: a fresh session and one small warm-up call on
    // the small input of the same shape; the last session stays for the
    // measurement
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) stop(spark)
      // the catalog lives in the session; tables of an earlier session
      // would block the new one from creating them again
      deleteRecursively(new File(a.work, "warehouse"))
      System.gc()
      val t0 = System.nanoTime()
      spark = session(a.work)
      val warmOut = s"${a.work}/warmup-out"
      workload.warmup(spark, a.warmup, warmOut)
      setupS += (System.nanoTime() - t0) / 1e9
      deleteRecursively(new File(warmOut))
    }
    workload match {
      case r: RdfEtl => r.writeOracle(a.out)
      case _ =>
    }

    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val ops = new Ops(spark)
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val startToPassS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val measureStart = System.nanoTime()
    var ok = true
    while (ok && (passWall.isEmpty || (System.nanoTime() - measureStart) / 1e9 < a.seconds)) {
      ops.pass += 1
      val passOut = new File(out, "pass")
      deleteRecursively(passOut)
      spark.catalog.clearCache()
      System.gc()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      try workload.pass(spark, ops, a.input, passOut.getPath)
      catch { case _: Throwable => ok = false }
      passWall += (System.nanoTime() - t0) / 1e9
      passCpu += (processCpuNs() - c0) / 1e9
    }
    val rss = peakRssMb()

    val layers = recorder.map { r =>
      r.drain(spark.sparkContext)
      val l = Layers.compute(r, ops.records.toSeq, ops.pass, workload)
      Trace.write(new File(a.work, s"trace-seed${a.seed}.json"), a, r,
        ops.records.toSeq, passWall.toSeq, setupS.toSeq, l)
      l
    }.getOrElse(Nil)

    val fields = Seq(
      "workload" -> Json.str(a.workload),
      "setup_s" -> Json.arr(setupS.toSeq),
      "start_to_pass_s" -> Json.num(startToPassS),
      "pass_s" -> Json.arr(passWall.toSeq),
      "pass_cpu_s" -> Json.arr(passCpu.toSeq),
      "peak_rss_mb" -> Json.num(rss),
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "layers" -> layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")) ++ workload.extra
    stop(spark)
    println("GRAFTBENCH_RESULT " + fields.map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString("{", ",", "}"))
  }
}

/** Per-layer figures of a traced run: each `<op>.<counter>` summed over the
  * op's calls within a pass, then the median over passes. */
object Layers {
  import Driver.{median, percentile, OpNames}

  val Counters = Seq("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "gc_s",
    "input_mb", "shuffle_write_mb", "spill_mb", "output_mb")

  def perPass(r: Recorder, recs: Seq[Driver.OpRecord]): Map[(Int, String), Map[String, Double]] =
    recs.groupBy(x => (x.pass, x.op)).map { case (k, calls) =>
      val totals = new graftbench.Counters
      calls.foreach(c => totals += r.counters(c.key))
      val driver = calls.map(c => c.wallS - r.busyMs(c.key, c.t0Ms, c.t1Ms) / 1e3).sum
      k -> (Map("wall_s" -> calls.map(_.wallS).sum, "driver_s" -> math.max(0.0, driver)) ++
        totals.fields)
    }

  def compute(r: Recorder, recs: Seq[Driver.OpRecord], passes: Int,
      w: Driver.Workload): Seq[(String, Double)] = {
    val pp = perPass(r, recs)
    val layer = for (op <- OpNames; c <- Counters) yield {
      val vals = (1 to passes).map(p => pp.get((p, op)).map(_(c)).getOrElse(0.0))
      s"$op.$c" -> median(vals)
    }
    val query = w match {
      case q: Driver.RdfEtl =>
        val byPass = q.queryS.groupBy(_._1).values.map(_.map(_._2).toSeq).toSeq
        Seq(
          "query_p50_s" -> median(byPass.map(percentile(_, 0.5))),
          "query_p75_s" -> median(byPass.map(percentile(_, 0.75))),
          "conf_keys_changed" -> q.confChanged.size.toDouble)
      case _ => Seq("query_p50_s" -> 0.0, "query_p75_s" -> 0.0, "conf_keys_changed" -> 0.0)
    }
    layer ++ query
  }
}

/** The trace file of a traced run: the per-layer figures, every pass's
  * per-operation counters, and the run's totals per (operation, stage
  * name), heaviest first. */
object Trace {
  def write(f: File, a: Driver.Args, r: Recorder, recs: Seq[Driver.OpRecord],
      passWall: Seq[Double], setupS: Seq[Double], layers: Seq[(String, Double)]): Unit = {
    val opOf: String => String = k => k.split('|') match {
      case Array(_, op, _) => op
      case _ => k
    }
    val pp = Layers.perPass(r, recs)
    val passes = pp.toSeq.sortBy(_._1).map { case ((p, op), m) =>
      s"""{"pass":$p,"op":${Json.str(op)},""" +
        m.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",") + "}"
    }
    val stages = r.stageTotals(opOf).toSeq.sortBy(-_._2.taskCpuNs).map { case ((op, name), c) =>
      s"""{"op":${Json.str(op)},"stage":${Json.str(name)},""" +
        c.fields.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",") + "}"
    }
    val body = Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "setup_s" -> Json.arr(setupS),
      "pass_s" -> Json.arr(passWall),
      "layers" -> layers.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"),
      "passes" -> passes.mkString("[\n", ",\n", "]"),
      "stages" -> stages.mkString("[\n", ",\n", "]"))
      .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\n", ",\n", "}\n")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}
