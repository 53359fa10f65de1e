package graft.tools

/** The scale-smoke gates shared by the LLM / events / ingestion
  * families (one formula, calibrated once — per-smoke copies drifted
  * in round 9 and were folded back here). Each `check` callback is the
  * smoke's own print-and-flag function. */
object SmokeGates {

  /** Consecutive-pair shuffle-write linearity: bytes may grow at most
    * 1.5× of linear plus an 8 MiB fixed-overhead allowance (absorbs
    * one-time AQE broadcast→shuffled-join plan transitions). A pair
    * whose LARGER total is still under `exemptBytes` is exempt: at
    * that size growth is plan-transition territory, and a genuinely
    * quadratic stage still trips the gated larger pairs immediately. */
  def gateShuffleLinear(
      runs: Seq[(Int, Long)], check: (Boolean, String) => Unit,
      exemptBytes: Long = 0L): Unit =
    runs.tail.zip(runs).foreach { case ((s, b), (ps, pb)) =>
      val ratio = s.toDouble / ps
      val bound = (pb * ratio * 1.5).toLong + (8L << 20)
      check(b <= bound || b <= exemptBytes,
        f"shuffle write ${ps}x->${s}x: ${b / 1048576.0}%.1f MiB <= " +
          f"linear bound ${bound / 1048576.0}%.1f MiB" +
          (if (exemptBytes > 0) " or small-total exemption" else "") +
          f" (grew ${b.toDouble / math.max(1, pb)}%.2fx for a $ratio%.2fx scale-up)")
    }

  /** Per-stage skew: no heavy stage (>4 MiB total write, ≥8 tasks)
    * may have one task carrying more than 8× the stage mean. */
  def gateSkew(
      scale: Int, stages: Map[Int, (Long, Long, Long)],
      check: (Boolean, String) => Unit): Unit =
    stages.foreach { case (sid, (n, total, mx)) =>
      if (total > (4L << 20) && n >= 8)
        check(mx <= 8 * (total / n),
          f"scale=$scale stage=$sid skew: max task ${mx / 1048576.0}%.1f MiB " +
            f"<= 8x mean ${(total / n) / 1048576.0}%.1f MiB over $n tasks")
    }
}
