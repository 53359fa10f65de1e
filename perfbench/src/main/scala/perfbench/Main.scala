package perfbench

import graft.{GraftSession, SparkEntry}
import graft.app.RunAll
import graft.pbp.PbpPipeline
import graft.pbp.names.StandardizeNames
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * The benchmark's JVM side. `run.py` generates the inputs, launches
 * this main once per run and checks the outputs it leaves behind.
 *
 *   perfbench.Main --workload backfill|parse|corpus --data DIR --out DIR
 *       --seconds N --trace 0|1 [--queries q1,...]
 *
 * Set-up is timed from JVM start until `GraftSession.get` returns.
 * Units (a backfill slice, a parse pass, a corpus pass) repeat until
 * `--seconds` have been measured, at least one; the first is cold. The
 * main prints one `PERFBENCH_RESULT {json}` line.
 */
object Main {

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum

  /** Total codegen compile time so far (ms): the histogram keeps every
    * sample below its reservoir size, else mean x count. */
  private def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size) s.getValues.sum.toDouble else s.getMean * h.getCount
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Fixed-work calibration (the anchor `graft.Bench` uses): 10^8
    * 64-bit mixes on one thread. */
  private def calibMs(): Double = {
    var h = 0x9e3779b97f4a7c15L
    def mix(iters: Int): Unit = {
      var i = 0
      while (i < iters) {
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
        h ^= h >>> 29; h *= 0xc4ceb9fe1a85ec53L
        i += 1
      }
    }
    mix(10000000)
    val t0 = System.nanoTime()
    mix(100000000)
    val dt = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.println("calib sentinel")
    dt
  }

  final case class UnitResult(name: String, wallS: Double, cpuS: Double, ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.get("perfbench")
    // set-up: JVM start until the session is ready
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val workload = opts("workload")
    val data = opts("data")
    val out = opts("out")
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val runId = s"$workload-${opts.getOrElse("seed", "0")}-${if (traced) "traced" else "plain"}"
    val tracer = if (traced) Some(new Tracer(spark, runId)) else None

    val calibStart = calibMs()
    val gc0 = gcMs()
    val cg0 = codegenMs()
    val units = mutable.ArrayBuffer.empty[UnitResult]
    val stages = mutable.ArrayBuffer.empty[(String, Long)]

    val work: Seq[(String, () => Unit)] = workload match {
      case "backfill" => Backfill.units(spark, data, out, tracer, stages)
      case "parse" => ParseChain.units(spark, data, out, tracer)
      case "corpus" =>
        val qs = opts("queries").split(",").toSeq
        (0 until 1000).map { i =>
          s"pass-$i" -> (() => qs.foreach { name =>
            def q(): Unit = {
              SparkEntry.queries(name)(spark, data).coalesce(1)
                .write.mode("overwrite").parquet(s"$out/$name")
              spark.catalog.clearCache()
            }
            tracer.fold(q())(_.span(s"queries.$name")(q()))
          })
        }
      case other => sys.error(s"unknown workload $other")
    }

    // a failed unit is recorded as failed, never as a fast one
    def timed(name: String, f: () => Unit): UnitResult = {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val err = try { f(); "" } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      UnitResult(name, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9, err.isEmpty, err)
    }

    val loopT0 = System.nanoTime()
    def runUnits(): Unit = {
      val it = work.iterator
      var n = 0
      while (it.hasNext && (n == 0 || (System.nanoTime() - loopT0) / 1e9 < seconds)) {
        val (name, f) = it.next()
        units += timed(name, f)
        n += 1
      }
    }
    tracer match {
      case Some(t) => t.span("run")(runUnits())
      case None => runUnits()
    }
    val loopWall = (System.nanoTime() - loopT0) / 1e9

    val sc = spark.sparkContext
    val rddsLeft = sc.getPersistentRDDs.size
    val blocksLeft = sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    val gcS = (gcMs() - gc0) / 1e3
    val codegenS = (codegenMs() - cg0) / 1e3
    val calibEnd = calibMs()

    val sb = new StringBuilder
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    sb ++= s"""{"workload":${str(workload)},"run_id":${str(runId)},"loop_wall_s":${num(loopWall)},"""
    sb ++= units.map(u =>
      s"""{"name":${str(u.name)},"wall_s":${num(u.wallS)},"cpu_s":${num(u.cpuS)},"ok":${u.ok},"error":${str(u.error)}}""")
      .mkString("\"units\":[", ",", "],")
    sb ++= stages.map { case (n, r) => s"[${str(n)},$r]" }.mkString("\"stages\":[", ",", "],")
    sb ++= s""""rdds_left":$rddsLeft,"blocks_left":$blocksLeft,"gc_s":${num(gcS)},"codegen_s":${num(codegenS)},"""
    sb ++= s""""calib_start_ms":${num(calibStart)},"calib_end_ms":${num(calibEnd)},"peak_rss_mb":${num(peakRssMb())},"setup_s":${num(setupS)}"""
    tracer.foreach { t =>
      t.detach()
      val root = t.allSpans.find(_.name == "run").map(_.id).getOrElse(0)
      Files.writeString(Paths.get(s"$out/spans.json"), t.spansJson)
      sb ++= s""","plan_s":${num(t.planMs / 1e3)},"tasks":${t.tasks},"cached_mb_peak":${num(t.cachedPeakBytes / 1048576.0)},"""
      sb ++= s""""uncovered_share":${num(t.uncoveredShare(root))},"""
      sb ++= t.layerTotals.map { case (k, m) =>
        s"${str(k)}:" + m.map { case (mk, mv) => s"${str(mk)}:${num(mv)}" }.mkString("{", ",", "}")
      }.mkString("\"layers\":{", ",", "}")
    }
    sb ++= "}"
    // the oracle SQL beside a corpus dump lets tools/localverify.py
    // check the results the committed corpus hashes come from
    opts.get("oracle-sql").foreach { path =>
      Files.writeString(Paths.get(path), SparkEntry.oracleSql
        .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}"))
    }
    println("PERFBENCH_RESULT " + sb.toString)
    System.out.flush()
    spark.stop()
  }
}

/** The `backfill` workload: `RunAll.runMany` over (division, year)
  * slices into one output root, one slice per unit. */
object Backfill {
  def inputs(spark: SparkSession, dir: String, division: String, year: Int): RunAll.Inputs = {
    def t(name: String) = Some(spark.read.parquet(s"$dir/$name.parquet"))
    RunAll.Inputs(
      weTable = t("we"), liTable = t("li"), teams = t("teams"),
      pitchingLineups = t("pitching_lineups"), battingLineups = t("batting_lineups"),
      playerInfo = t("player_info"), battingStats = t("batting_stats"),
      pitchingStats = t("pitching_stats"), parkFactors = t("park_factors"),
      rankings = t("rankings"), mappings = t("mappings"), teamHistory = t("team_history"),
      division = division, year = year)
  }

  def units(spark: SparkSession, data: String, out: String, tracer: Option[Tracer],
      stages: mutable.ArrayBuffer[(String, Long)]): Seq[(String, () => Unit)] = {
    val slices = Files.list(Paths.get(data)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isDirectory(_)).map(_.toString).sorted.toSeq
    slices.map { dir =>
      val name = Paths.get(dir).getFileName.toString
      val Array(_, division, year) = name.split("__")
      name -> (() => {
        val raw = spark.read.parquet(s"$dir/raw_pbp")
        val in = inputs(spark, dir, division, year.toInt)
        val res = tracer match {
          case Some(t) => TracedRunAll.run(t, spark, raw, out, in)
          case None => RunAll.runMany(spark, Seq((raw, in)), out)
        }
        stages ++= res.map(r => (s"$division/$year/${r.name}", r.rows))
      })
    }
  }
}

/** The `parse` workload: the pbp_parser and standardize_names stages
  * as one chain (parse, team enrichment, pitcher assignment, name
  * standardization) ending in one parquet write, one pass per unit.
  * Traced, each layer's output is persisted and materialized inside
  * its span, so the work of each layer lands in its own span. */
object ParseChain {
  def units(spark: SparkSession, data: String, out: String, tracer: Option[Tracer])
      : Seq[(String, () => Unit)] =
    (0 until 1000).map { i =>
      s"pass-$i" -> (() => {
        val held = mutable.ArrayBuffer.empty[DataFrame]
        def layer(name: String)(f: => DataFrame): DataFrame = tracer match {
          case None => f
          case Some(t) => t.span(name) {
            val df = f.persist()
            df.count()
            held += df
            df
          }
        }
        val raw = spark.read.parquet(s"$data/raw_pbp")
        val teams = spark.read.parquet(s"$data/teams.parquet")
        val parsed = layer("pbp.parse")(RunAll.addTeams(PbpPipeline.parse(raw), Some(teams)))
        val pitched = layer("pbp.pitchers")(
          PbpPipeline.withPitchers(parsed, spark.read.parquet(s"$data/pitching_lineups.parquet"))
            .withColumn("pitcher_id", coalesce(col("pitcher_id"), col("pitcher_name"))))
        val named = layer("pbp.names")(StandardizeNames(spark, pitched,
          spark.read.parquet(s"$data/batting_lineups.parquet")))
        tracer.fold(named.write.mode("overwrite").parquet(s"$out/parsed_pbp"))(
          _.span("io.write")(named.write.mode("overwrite").parquet(s"$out/parsed_pbp")))
        held.foreach(_.unpersist(blocking = true))
      })
    }
}
