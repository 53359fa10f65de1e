package graft
object Bench {
  /** 1-minute system load average (from the OS MX bean; -1 if unavailable). */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Count of live java processes on the box (this JVM included).
    * More than the expected sbt+bench pair means a concurrent build or
    * test JVM is stealing cores from the timed loop. */
  private def jvmCount: Long =
    ProcessHandle.allProcesses().filter { p =>
      p.info().command().map[Boolean](_.contains("java")).orElse(false)
    }.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the box's full parallelism (the driver environment is
    // local[32]); SPARK_GRAFT_CPUS overrides for constrained runs
    val spark = GraftSession.local("graft-bench")
    val cpus = spark.sparkContext.defaultParallelism
    // untimed warmup: JIT + codegen + parquet footer caches, so the
    // first timed query measures the engine, not JVM startup
    try graft.util.Caches.scoped(SparkEntry.entry(spark).count())
    catch { case _: Throwable => () }
    // Headline subset (SparkEntry.benchQueries — 67 of the 158
    // registered queries as of late r10): every remaining query still
    // runs in Verify; benching all of them would measure JVM warmup
    // more than the engine.
    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
    // Second warmup tier: one untimed pass of every headline query at
    // the SMALLEST scale factor. The generated code for a query is
    // identical across sf dirs (only the input path differs), so this
    // compiles + JITs the exact classes the timed loop will run —
    // without it the first text-dedup query absorbs ~15 s of janino +
    // HotSpot warmup that has nothing to do with the engine (measured:
    // t09 cold 18-28 s vs 3.5-4 s warm on identical data).
    // no sf0.001 sibling → SKIP the tier (warming at full scale would
    // double the bench wall-clock, which is worse than a cold start)
    val warmDir = Option(java.nio.file.Paths.get(sfDir).getParent)
      .map(_.resolve("sf0.001"))
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.toString)
    warmDir match {
      case None => System.err.println(s"[bench] no sf0.001 sibling of $sfDir; skipping query warmup")
      case Some(wd) => names.foreach { name =>
        // NonFatal only: an OOM during warmup must kill the JVM, not
        // leave it poisoned to produce garbage timings
        try graft.util.Caches.scoped(SparkEntry.queries(name)(spark, wd).count())
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // Median of N passes per query (default 3). A single pass in a
    // 40-query single-JVM harness is untrustworthy: generated-class /
    // code-cache / heap accumulation inflated individual queries 2-6x
    // run-to-run (r7: pbp01 27.2 s in-harness vs 5.3-7.5 s in an
    // isolated JVM) with a DIFFERENT victim set each run. The median
    // rides out a one-off GC/JIT stall; per-pass times go to stderr so
    // the spread stays inspectable.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Contention telemetry: an inflated end-of-round run must be
    // self-identifying. Load average ≫ cpus or extra JVMs mid-run mean
    // the numbers measure the machine, not the engine (r7/r8: t22
    // 13.5 s in the contended driver window vs 1.4-1.7 s quiet).
    // Fixed-work CPU calibration: 10^8 murmur-style 64-bit mixes on
    // one thread, timed at bench start and end and reported in
    // telemetry. PROFILE_BENCH_r18 measured the box's wall-clock band
    // at ±10-15% across one evening — indistinguishable from a real
    // regression in a min-of-pair A/B without a fixed-work anchor.
    // Identical work every run ⇒ the ratio of calib times IS the
    // host-speed ratio, letting a round comparison normalize first.
    def calibMs(): Double = {
      var h = 0x9e3779b97f4a7c15L
      def mix(iters: Int): Unit = {
        var i = 0
        while (i < iters) {
          h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
          h ^= h >>> 29; h *= 0xc4ceb9fe1a85ec53L
          i += 1
        }
      }
      mix(10000000) // untimed: JIT the loop so the first reading is hot
      val t0 = System.nanoTime()
      mix(100000000)
      val dt = (System.nanoTime() - t0) / 1e6
      if (h == 42L) System.err.println("calib sentinel") // keep the loop live
      dt
    }
    val calibStart = calibMs()
    val loadStart = loadAvg
    val jvmsStart = jvmCount
    var loadMax = loadStart
    var jvmsMax = jvmsStart
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // each pass runs in its own scope, released after the clock
      // stops: later passes/queries aren't measured under the GC
      // pressure of earlier intermediates, and each pays its own
      // materialization
      val times = (1 to passes).map { _ => graft.util.Caches.scoped {
        val t0 = System.nanoTime()
        // a failed query must NOT masquerade as a fast one: report -1
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      } }
      val median =
        if (times.contains(-1.0)) -1.0
        else times.sorted.apply(times.length / 2)
      loadMax = math.max(loadMax, loadAvg)
      jvmsMax = math.max(jvmsMax, jvmCount)
      System.err.println(f"[bench] $name passes=${times.map(t => f"$t%.3f").mkString(",")} median=$median%.3f")
      name -> median
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val telemetry = f"""{"cpus":$cpus,"load_start":$loadStart%.2f,"load_max":$loadMax%.2f,"load_end":${loadAvg}%.2f,"jvms_start":$jvmsStart,"jvms_max":$jvmsMax,"passes":$passes,"calib_start_ms":$calibStart%.1f,"calib_end_ms":${calibMs()}%.1f}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","telemetry":$telemetry}"""
    println(line)
    // the same JSON also lands in a standalone file: the driver's
    // BENCH_r{N}.json has shipped with "parsed": null two rounds
    // running (the summary survived only inside the raw `tail`
    // string), so the round record must not depend on tail-parsing
    // sbt output. SPARK_GRAFT_BENCH_OUT overrides the path.
    // default path is anchored at the repo root (nearest ancestor of
    // cwd holding build.sbt), not raw cwd — the driver may launch sbt
    // from elsewhere and a relative default would strand the artifact
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      var d = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
      while (d != null && !java.nio.file.Files.exists(d.resolve("build.sbt")))
        d = d.getParent
      (if (d == null) java.nio.file.Paths.get("BENCH_FULL.json")
       else d.resolve("BENCH_FULL.json")).toString
    })
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    spark.stop()
  }
}
